"""Dead-code guard: every top-level definition in the package, ``bench.py``
and ``tools/*.py`` is referenced.

A pure-``ast`` scan, no Spark session. A top-level function, class or
assigned name in those files is *referenced* when its name appears, outside
its own definition, anywhere in the package, ``tests/``, ``tools/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py`` as one of:

- a loaded name (``foo``, ``foo()``),
- an attribute name (``mod.foo``),
- a ``from … import foo`` name,
- a string constant that is a bare identifier (``"foo"``: catalog tables,
  ``getattr``, ``__all__``).

Names are matched by spelling, not by module. The scan repeats until nothing
changes: a definition used only from the body of an unreferenced one is
itself unreferenced. Dunder names (``__all__``, ``__getattr__``) are hooks
the interpreter looks up, so they are never reported.
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


def _referenced_names(tree: ast.AST) -> set[str]:
    refs = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            refs.add(n.id)
        elif isinstance(n, ast.Attribute):
            refs.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            refs.update(a.name for a in n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                refs.add(n.value)
    return refs


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def unreferenced_definitions() -> list[str]:
    """``file:line name`` for every unreferenced checked top-level definition."""
    # each top-level statement is one "owner" of the references inside it;
    # a checked definition's own statement is dropped once it is found dead
    owners = []  # (defined names, refs, (file, line))
    for root in REFERENCE_ROOTS:
        for path in _python_files(root):
            tree = ast.parse(path.read_text(), filename=str(path))
            checked = path in CHECKED_FILES or PACKAGE in path.parents
            for stmt in tree.body:
                names = [
                    n for n in _defined_names(stmt) if not _is_dunder(n)
                ] if checked else []
                where = (str(path.relative_to(ROOT)), stmt.lineno)
                owners.append((names, _referenced_names(stmt), where))
    # how many live owners reference each name
    uses = Counter(r for _, refs, _ in owners for r in refs)
    dead: dict[int, list[str]] = {}
    found = True
    while found:
        found = False
        for i, (names, refs, _) in enumerate(owners):
            if not names or i in dead:
                continue
            # dead: no owner but (perhaps) this statement itself uses a name
            if all(uses[n] == (n in refs) for n in names):
                dead[i] = names
                uses.subtract(refs)
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
