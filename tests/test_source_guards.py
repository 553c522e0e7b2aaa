"""Source-level guards over the package (an ``ast`` scan, no Spark).

Every UDF body in ``polars_st_spark/functions/`` takes and returns
``pa.Array``: no module there imports pandas, and the pandas-Series UDF
bridge ``arrow_series_udf`` is gone from the whole package.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "polars_st_spark"


def _names(tree: ast.AST):
    """Every identifier a module binds or reads, with its line."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno
        elif isinstance(node, ast.arg):
            yield node.arg, node.lineno
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                yield a.name, node.lineno
                if a.asname:
                    yield a.asname, node.lineno


def test_functions_do_not_import_pandas():
    hits = []
    for path in sorted((PKG / "functions").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            else:
                continue
            if any(m == "pandas" or m.startswith("pandas.") for m in mods):
                hits.append(f"{path.name}:{node.lineno}")
    assert not hits, hits


def test_no_arrow_series_udf_in_package():
    hits = [
        f"{path.relative_to(PKG)}:{line}"
        for path in sorted(PKG.rglob("*.py"))
        for name, line in _names(ast.parse(path.read_text()))
        if name == "arrow_series_udf"
    ]
    assert not hits, hits
