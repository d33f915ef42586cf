"""Source layout of the query catalog: each shared technique has one home.

The catalog parts (``plans/catalog_p*.py``) import only library modules
and ``catalog_base``, and the two spellings of the md5-prefix integer —
Spark's ``conv(substring(<hex>, 1, 8), 16, 10)`` and DuckDB's
``sum(nibble * 16^k)`` — are each written once in the package.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "etl_bigquery_pipeline_spark"


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path, ast.parse(path.read_text())


def _is_call(node: ast.AST, name: str) -> bool:
    """``F.<name>(...)`` or ``<name>(...)``."""
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Attribute) and f.attr == name) or (
        isinstance(f, ast.Name) and f.id == name
    )


def _consts(args) -> list:
    return [a.value if isinstance(a, ast.Constant) else None for a in args]


def test_catalog_parts_import_no_other_part():
    offenders = []
    for path in sorted((PKG / "plans").glob("catalog_p*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
                mods += [f"{node.module}.{a.name}" for a in node.names]
            elif isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            else:
                continue
            # absolute or relative, module or name: no catalog_p* part
            if any(
                name.startswith("catalog_p")
                for m in mods
                for name in m.split(".")
            ):
                offenders.append(f"{path.name}:{node.lineno}")
    assert offenders == []


def test_md5_prefix_integer_has_one_definition_per_engine():
    spark, duckdb = [], []
    for path, tree in _modules():
        where = path.relative_to(PKG).as_posix()
        for node in ast.walk(tree):
            # Spark: conv(substring(<hex>, 1, 8), 16, 10)
            if (
                _is_call(node, "conv")
                and _consts(node.args[1:]) == [16, 10]
                and _is_call(node.args[0], "substring")
                and _consts(node.args[0].args[1:]) == [1, 8]
            ):
                spark.append((where, node.lineno))
            # DuckDB: the positional weight 16 ** (7 - i) of a hex digit
            if (
                isinstance(node, ast.BinOp)
                and isinstance(node.op, ast.Pow)
                and _consts([node.left]) == [16]
            ):
                duckdb.append((where, node.lineno))
    assert [p for p, _ in spark] == ["functions/text.py"], spark
    assert [p for p, _ in duckdb] == ["plans/catalog_base.py"], duckdb
