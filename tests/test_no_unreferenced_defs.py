"""Dead-code guard: every top-level definition in the package, ``bench.py``
and ``tools/*.py`` is referenced.

A pure-``ast`` scan, no Spark session. A top-level function, class or
assigned name in those files is *referenced* when its name appears, outside
its own definition, anywhere in the package, ``tests/``, ``tools/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py`` as one of:

- a loaded name (``foo``, ``foo()``),
- an attribute name (``mod.foo``),
- a ``from … import foo`` name that the importing file then uses (loads
  it, or names it in a string); in an ``__init__.py`` every imported name
  counts, since a package re-exports what it imports. A top-level import
  counts only while some live top-level statement of its file uses the
  name: an import whose users are all dead definitions is dead with them,
- a string constant that is a bare identifier (``"foo"``: catalog tables,
  ``getattr``, ``__all__``).

Names are matched by spelling, not by module. The scan repeats until nothing
changes: a definition used only from the body of an unreferenced one is
itself unreferenced. Dunder names (``__all__``, ``__getattr__``) are hooks
the interpreter looks up, so they are never reported.

A second mode scans with ``tests/`` dropped from the reference roots: it
counts the definitions only tests reach, which no catalog query, pipeline,
ingest, bench or tool calls. That count is pinned and may only fall.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "vmware_sd_wan_velocloud_bi_intake_spark"
REFERENCE_ROOTS = (
    PACKAGE,
    ROOT / "tests",
    ROOT / "tools",
    ROOT / "perfbench",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
)
# outside the package, only these files' definitions are checked: the
# bench harness and the tools
CHECKED_FILES = {ROOT / "bench.py", *(ROOT / "tools").glob("*.py")}
# definitions reached from tests alone; lower it when a change deletes
# some or gives them a caller, never raise it
TEST_ONLY_CEILING = 60


def _python_files(root: Path) -> list[Path]:
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def _defined_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    ]


def _used_names(tree: ast.AST) -> set[str]:
    """Names a file loads or spells as an identifier string: what an
    import in that file must appear among to count as used."""
    return {
        n.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
    } | {
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and n.value.isidentifier()
    }


def _referenced_names(tree: ast.AST, used: set[str] | None) -> set[str]:
    """Names ``tree`` references; an imported name only when its bound
    name is in ``used`` (None: every import counts)."""
    refs = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            refs.add(n.id)
        elif isinstance(n, ast.Attribute):
            refs.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            refs.update(
                a.name
                for a in n.names
                if used is None or (a.asname or a.name) in used
            )
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                refs.add(n.value)
    return refs


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def unreferenced_definitions(roots=REFERENCE_ROOTS) -> list[str]:
    """``file:line name`` for every checked top-level definition that
    nothing under ``roots`` references."""
    files = []
    for root in roots:
        for path in _python_files(root):
            tree = ast.parse(path.read_text(), filename=str(path))
            checked = path in CHECKED_FILES or PACKAGE in path.parents
            files.append((str(path.relative_to(ROOT)), tree, checked))
    return _dead_definitions(files)


def _dead_definitions(files) -> list[str]:
    """The scan over ``(name, tree, checked)`` files; see the module doc."""
    # each top-level statement is one "owner" of the references inside it;
    # a checked definition's own statement is dropped once it is found dead
    owners = []  # (defined names, refs, (file, line), names it uses)
    imports = []  # (file, bound name, imported name) of top-level imports
    for name, tree, checked in files:
        is_init = Path(name).name == "__init__.py"
        used = None if is_init else _used_names(tree)
        for stmt in tree.body:
            if isinstance(stmt, ast.ImportFrom) and not is_init:
                imports += [(name, a.asname or a.name, a.name) for a in stmt.names]
                continue
            names = [
                n for n in _defined_names(stmt) if not _is_dunder(n)
            ] if checked else []
            where = (name, stmt.lineno)
            refs = _referenced_names(stmt, used)
            owners.append((names, refs, where, _used_names(stmt)))
    # how many live owners of each file use each name: a file's top-level
    # import of a name lives while that count does
    local_uses = Counter(
        (f, n) for _, _, (f, _), used in owners for n in used
    )
    live_imports = {
        i for i, (f, bound, _) in enumerate(imports) if local_uses[f, bound]
    }
    # how many live owners and live imports reference each name
    uses = Counter(r for _, refs, _, _ in owners for r in refs)
    uses.update(imports[i][2] for i in live_imports)
    dead: dict[int, list[str]] = {}
    found = True
    while found:
        found = False
        for i, (names, refs, (f, _), used) in enumerate(owners):
            if not names or i in dead:
                continue
            # dead: no owner but (perhaps) this statement itself uses a name
            if all(uses[n] == (n in refs) for n in names):
                dead[i] = names
                uses.subtract(refs)
                local_uses.subtract((f, n) for n in used)
                found = True
        for i in sorted(live_imports):
            f, bound, imported = imports[i]
            if not local_uses[f, bound]:
                live_imports.discard(i)
                uses[imported] -= 1
                found = True
    return [
        f"{path}:{line} {name}"
        for (path, line), name in sorted(
            (owners[i][2], n) for i, names in dead.items() for n in names
        )
    ]


def test_no_unreferenced_top_level_definitions():
    dead = unreferenced_definitions()
    assert not dead, (
        f"{len(dead)} top-level definitions nothing references — delete them "
        "(or reference them):\n" + "\n".join(dead)
    )


def test_test_only_definitions_do_not_grow():
    roots = tuple(r for r in REFERENCE_ROOTS if r != ROOT / "tests")
    test_only = unreferenced_definitions(roots)
    assert len(test_only) <= TEST_ONLY_CEILING, (
        f"{len(test_only)} top-level definitions are reached only from "
        f"tests (ceiling {TEST_ONLY_CEILING}) — give new code a caller in "
        "the system, or delete it with its tests:\n" + "\n".join(test_only)
    )


def test_unused_import_is_not_a_reference():
    tree = ast.parse("from m import a, b as c\nc()\n")
    refs = _referenced_names(tree, _used_names(tree))
    assert "b" in refs and "a" not in refs
    # in an __init__.py (used=None) every import is a re-export
    assert {"a", "b"} <= _referenced_names(tree, None)


def test_import_used_only_inside_a_dead_def_is_not_a_reference():
    files = {
        "lib.py": "def helper():\n    pass\n\n\ndef kept():\n    pass\n",
        "mid.py": (
            "from lib import helper, kept\n\n\n"
            "def dead():\n    return helper()\n\n\nkept()\n"
        ),
    }
    dead = _dead_definitions(
        [(name, ast.parse(src), True) for name, src in files.items()]
    )
    # the import keeps `helper` looking used only while `dead` lives
    assert dead == ["lib.py:1 helper", "mid.py:4 dead"]
