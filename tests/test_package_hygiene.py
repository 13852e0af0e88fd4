"""Package hygiene rules.

Every import in the package is used: a module-level import somewhere
in its module, a function-level import inside its function.  A line
marked ``# noqa: F401`` (a deliberate re-export or side effect) is
exempt.

``operators/snapshot.py`` reads parquet in one place, ``_read_files``,
which passes the manifest's recorded schema to the reader.

The exact-integer vector lattice lives in ``operators/kmeans.py``: no
other code snaps floats to the lattice or folds an integer dot, norm or
distance itself."""

from __future__ import annotations

import ast
import re
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


# Spark SQL: a float->integer snap of an array element (a lambda
# variable), and an integer sum fold over zip_with/transform.  DuckDB
# oracle SQL (list_transform / list_sum / list_dot_product) is the
# referee.
_SQL_SNAP = re.compile(
    r"(\w+)\s*->\s*CAST\(\s*floor\(\s*(CAST\(\s*)?\1(\s+AS\s+DOUBLE\s*\))?"
    r"\s*\*\s*\d[\d.]*\s*\)\s*AS\s+BIGINT",
    re.IGNORECASE,
)
_SQL_FOLD = re.compile(r"(?<![\w])aggregate\(\s*(zip_with|transform)\(", re.IGNORECASE)
_DUCKDB = ("list_transform", "list_sum", "list_dot_product", "list_aggregate")


def _is_square(lam: ast.AST) -> bool:
    body = getattr(lam, "body", None)
    return (
        isinstance(body, ast.BinOp)
        and isinstance(body.op, ast.Mult)
        and ast.dump(body.left) == ast.dump(body.right)
    )


def _is_int_vector_fold(node: ast.Call) -> bool:
    """``F.aggregate(F.zip_with(a, b, <product>) | F.transform(a, <square>),
    <integer zero>, <sum>)``."""
    if (
        getattr(node.func, "attr", None) != "aggregate"
        or len(node.args) < 3
        or not isinstance(node.args[0], ast.Call)
    ):
        return False
    src, zero, merge = node.args[0], node.args[1], node.args[2]
    kind = getattr(src.func, "attr", getattr(src.func, "id", None))
    float_zero = any(
        isinstance(c, ast.Constant) and isinstance(c.value, float)
        for c in ast.walk(zero)
    )
    summed = isinstance(getattr(merge, "body", None), ast.BinOp) and isinstance(
        merge.body.op, ast.Add
    )
    if float_zero or not summed or len(src.args) < 2:
        return False
    if kind == "zip_with":
        lam = src.args[2] if len(src.args) > 2 else None
        body = getattr(lam, "body", None)
        return isinstance(body, ast.BinOp) and isinstance(body.op, ast.Mult)
    return kind == "transform" and _is_square(src.args[1])


def _is_snap(node: ast.Call) -> bool:
    """``F.floor(<element> * <scale>).cast("long")`` where the element is
    a bare name, or a bare name cast to double."""
    f = node.func
    if not (
        isinstance(f, ast.Attribute)
        and f.attr == "cast"
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value in ("long", "bigint")
        and isinstance(f.value, ast.Call)
        and getattr(f.value.func, "attr", None) == "floor"
        and f.value.args
        and isinstance(f.value.args[0], ast.BinOp)
        and isinstance(f.value.args[0].op, ast.Mult)
    ):
        return False
    elem = f.value.args[0].left
    if isinstance(elem, ast.Call) and getattr(elem.func, "attr", None) == "cast":
        elem = elem.func.value
    return isinstance(elem, ast.Name)


def _string_sites(node: ast.AST) -> list[int]:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        text = node.value
    elif isinstance(node, ast.JoinedStr):
        text = "".join(
            v.value if isinstance(v, ast.Constant) else "{}" for v in node.values
        )
    else:
        return []
    if any(m in text for m in _DUCKDB):
        return []
    hits = [*_SQL_SNAP.finditer(text), *_SQL_FOLD.finditer(text)]
    return [node.lineno + text.count("\n", 0, m.start()) for m in hits]


def _lattice_sites(path: Path, home: bool) -> list[int]:
    """Lines in ``path`` that snap or fold on the lattice.  In the home
    module a one-expression function (the vocabulary) and the SQL-string
    probe kernel ``_dist2_sql`` are the definitions, not uses."""
    out: set[int] = set()
    tree = ast.parse(path.read_text())
    f_parts = {
        id(v) for n in ast.walk(tree) if isinstance(n, ast.JoinedStr) for v in n.values
    }
    for top in tree.body:
        if home and isinstance(top, ast.FunctionDef):
            body = top.body[1:] if ast.get_docstring(top) else top.body
            if top.name == "_dist2_sql" or (
                len(body) == 1 and isinstance(body[0], ast.Return)
            ):
                continue
        for node in ast.walk(top):
            if id(node) not in f_parts:  # an f-string is read whole
                out.update(_string_sites(node))
            if isinstance(node, ast.Call) and (_is_int_vector_fold(node) or _is_snap(node)):
                out.add(node.lineno)
    return sorted(out)


def test_exact_integer_lattice_lives_in_kmeans():
    home = PKG / "operators" / "kmeans.py"
    sites = [
        f"{path.relative_to(PKG.parent)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        for n in _lattice_sites(path, path == home)
    ]
    assert sites == []
