"""The streaming package holds real streaming state or session logic,
never a renamed batch function.

A streaming sketch is the batch cell builder run on a streaming
DataFrame, and its report is the batch finisher run on the sink table;
callers use those functions directly.  This guard keeps the package
from regrowing one-line forwarders to them."""

from __future__ import annotations

import ast
from pathlib import Path

STREAMING = (
    Path(__file__).resolve().parent.parent / "streamkit_spark" / "streaming"
)


def _package_names(stmts) -> set[str]:
    """Names bound by ``from streamkit_spark... import`` statements, and
    the package itself when ``import streamkit_spark...`` binds it."""
    names = set()
    for st in stmts:
        if isinstance(st, ast.ImportFrom) and (st.module or "").startswith(
            "streamkit_spark"
        ):
            names.update(a.asname or a.name for a in st.names)
        elif isinstance(st, ast.Import):
            for a in st.names:
                if a.name.startswith("streamkit_spark"):
                    names.add(a.asname or a.name.split(".")[0])
    return names


def _callee_root(func: ast.expr) -> str | None:
    while isinstance(func, ast.Attribute):
        func = func.value
    return func.id if isinstance(func, ast.Name) else None


def forwarders(source: str) -> list[str]:
    """Module-level functions whose body, after the docstring and any
    imports, is only ``return <package function>(...)``."""
    tree = ast.parse(source)
    module_names = _package_names(tree.body)
    hits = []
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        body = fn.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            body = body[1:]
        imports = [
            s for s in body if isinstance(s, (ast.Import, ast.ImportFrom))
        ]
        rest = [s for s in body if s not in imports]
        if (
            len(rest) == 1
            and isinstance(rest[0], ast.Return)
            and isinstance(rest[0].value, ast.Call)
            and _callee_root(rest[0].value.func)
            in module_names | _package_names(imports)
        ):
            hits.append(fn.name)
    return hits


def test_forwarder_detector_flags_only_pure_forwards():
    src = '''
from streamkit_spark.functions import analytics
from streamkit_spark.functions.sketch import kmv_hash


def wrapped(df, g):
    """Doc."""
    from streamkit_spark.functions.analytics import value_cells

    return value_cells(df, g, "v")


def attr(df):
    return analytics.daily_totals(df, "g", "d", "v")


def direct(df):
    return kmv_hash(df)


def real(df):
    out = df.select("a")
    return analytics.value_cells(out, "a", "b")


def foreign(df):
    return len(df)
'''
    assert forwarders(src) == ["wrapped", "attr", "direct"]


def test_streaming_modules_define_no_forwarders():
    hits = {
        f"{p.name}:{name}"
        for p in sorted(STREAMING.glob("*.py"))
        for name in forwarders(p.read_text())
    }
    assert not hits, sorted(hits)
