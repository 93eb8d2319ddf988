"""``session.local_frame``: driver-side rows as an Arrow-backed JVM
``LocalRelation``, with the same rows and schema as
``createDataFrame(<python list>, schema)``, and the guard that keeps
every other list-to-frame call out of the package."""

from __future__ import annotations

import ast
import datetime
import os

import pytest
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from pythondataingestionprocess_spark.session import local_frame

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pythondataingestionprocess_spark",
)

# every type the engine's call sites pass, with a NULL in each column
TYPED_DDL = (
    "s string, l long, i int, b boolean, d double, v array<double>"
)
TYPED_ROWS = [
    ("a", 1, 2, True, 1.5, [1.0, 2.5]),
    (None, None, None, None, None, None),
    ("ü", -(2**62), -(2**31), False, -0.0, []),
    ("", 0, 0, True, float("inf"), [None, 3.0]),
]

# sheet headers as workbooks carry them: dots, accents, a blank
# cell's str(None), a backtick, and a repeated name
AWKWARD = StructType(
    [StructField(n, StringType()) for n in
     ("C. Unit", "Descripción", "None", "a`b", "Cant", "Cant")]
    + [StructField("row_idx", LongType())]
)
AWKWARD_ROWS = [
    ("93,35", "Toy Á", None, "x", "1", "2", 0),
    (None, None, "n", None, None, "3", 1),
]


def _assert_same(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.columns == want.columns
    assert got.collect() == want.collect()
    return got


@pytest.mark.parametrize("rows", [TYPED_ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_list_path_per_type(spark, rows):
    df = _assert_same(spark, rows, TYPED_DDL)
    assert [f.nullable for f in df.schema.fields] == [True] * 6
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("rows", [AWKWARD_ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_list_path_on_awkward_headers(spark, rows):
    df = _assert_same(spark, rows, AWKWARD)
    assert df.columns[:6] == [
        "C. Unit", "Descripción", "None", "a`b", "Cant", "Cant"]
    if rows:
        assert df.select("`C. Unit`", "`a``b`").collect()[0] == ("93,35", "x")


def test_local_frame_keeps_declared_nullability(spark):
    schema = StructType([
        StructField("k", LongType(), nullable=False),
        StructField("v", StringType()),
    ])
    _assert_same(spark, [(1, None), (2, "x")], schema)
    # the list path refuses a NULL key; so does the helper
    with pytest.raises(ValueError):
        spark.createDataFrame([(None, "x")], schema).collect()
    with pytest.raises(ValueError, match="not nullable"):
        local_frame(spark, [(None, "x")], schema)


def test_local_frame_rejects_rows_of_the_wrong_width(spark):
    with pytest.raises(ValueError, match="3 values, schema has 2"):
        local_frame(spark, [(1, "a", 3)], "k long, v string")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, "a"), (2,)], "k long, v string")


@pytest.mark.parametrize(
    "ddl", ["t timestamp", "t timestamp_ntz", "k long, t array<timestamp>"])
def test_local_frame_refuses_timestamp_values(spark, ddl):
    """The chosen timestamp contract: rows are refused with a clear
    error (the list path would read a naive datetime in the Python
    process's zone, the Arrow path in the session zone), while a
    typed-empty frame of the same schema is still built."""
    ts = datetime.datetime(2024, 3, 10, 2, 30)
    row = (ts,) if ddl.startswith("t ") else (1, [ts])
    with pytest.raises(TypeError, match="no timestamp values"):
        local_frame(spark, [row], ddl)
    _assert_same(spark, [], ddl)


def _create_dataframe_calls(tree: ast.AST):
    """(call, enclosing function name) for every ``*.createDataFrame(``."""
    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                yield child, name
            yield from walk(child, name)
    yield from walk(tree, None)


def test_no_list_create_dataframe_outside_local_frame():
    """Driver-side rows reach Spark through ``local_frame`` only: any
    other ``createDataFrame(`` in the package (a list or tuple
    literal, a comprehension, a list variable) would bring back the
    Python-RDD shape whose every scan starts Python workers."""
    offenders = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            rel = os.path.relpath(path, PKG)
            for call, fn in _create_dataframe_calls(tree):
                if (rel, fn) != ("session.py", "local_frame"):
                    offenders.append(f"{rel}:{call.lineno} in {fn}")
    assert not offenders, (
        "build driver-side frames with session.local_frame: "
        + ", ".join(offenders))


def test_guard_sees_list_literals_and_variables():
    src = (
        "def f(spark, rows):\n"
        "    spark.createDataFrame([(1,)], 'a long')\n"
        "    spark.createDataFrame(rows, 'a long')\n"
        "    return spark.createDataFrame([], 'a long')\n"
    )
    calls = list(_create_dataframe_calls(ast.parse(src)))
    assert [(c.lineno, fn) for c, fn in calls] == [(2, "f"), (3, "f"), (4, "f")]
