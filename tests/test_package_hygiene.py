"""Package hygiene rules.

Every import in the package is used: a module-level import somewhere
in its module, a function-level import inside its function.  A line
marked ``# noqa: F401`` (a deliberate re-export or side effect) is
exempt.

``operators/snapshot.py`` reads parquet in one place, ``_read_files``,
which passes the manifest's recorded schema to the reader."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "specialsid_spark"


def _unused(scope: ast.AST, lines: list[str], path: Path) -> list[str]:
    used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
    out, todo = [], list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out += _unused(node, lines, path)  # its own scope
            continue
        todo += ast.iter_child_nodes(node)
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if getattr(node, "module", None) == "__future__":
            continue
        if "# noqa: F401" in "".join(lines[node.lineno - 1 : node.end_lineno]):
            continue
        for a in node.names:
            name = a.asname or a.name.split(".")[0]
            if name not in used:
                out.append(f"{path.relative_to(PKG.parent)}:{node.lineno} {name}")
    return out


def test_no_unused_imports():
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        unused += _unused(ast.parse(src), src.splitlines(), path)
    assert unused == []


def _parquet_reads(path: Path, reader: str) -> list[str]:
    """``path:line`` of each ``.parquet(`` read call in ``path`` outside
    the top-level function ``reader``.  A call whose receiver mentions
    ``write`` (``df.write...``, ``writer``) is a write, not a read."""
    out = []
    for top in ast.parse(path.read_text()).body:
        if getattr(top, "name", None) == reader:
            continue
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and "write" not in ast.unparse(node.func.value)
            ):
                out.append(node.lineno)
    return [f"{path.relative_to(PKG.parent)}:{n}" for n in sorted(out)]


def test_snapshot_reads_parquet_only_in_read_files():
    snapshot = PKG / "operators" / "snapshot.py"
    assert _parquet_reads(snapshot, "_read_files") == []
