"""Driver-side frames: ``session.local_frame`` builds them through Arrow as a
``LocalRelation`` (no RDD, so no Python task scans them), with the values
and types ``createDataFrame`` on a Python list gives, and it is the only
place the package calls ``createDataFrame``."""

import ast
import datetime as dt
import os

import pytest
from pyspark.sql import types as T

from feature_extractor_spark.operators.dedup import near_dup_clusters
from feature_extractor_spark.session import local_frame

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "feature_extractor_spark",
)

DDL = (
    "i int, n long, x double, s string, b binary, flag boolean, d date, "
    "t timestamp, a array<double>, m map<string,int>, st struct<p:int,q:string>"
)
ROWS = [
    (
        1, None, 0.1, "a", b"\x00\xff", True, dt.date(2024, 1, 2),
        dt.datetime(2024, 1, 2, 3, 4, 5, 678901, tzinfo=dt.timezone.utc),
        [1.0, None], {"k": 1}, (1, "x"),
    ),
    # a long beyond float64's 53-bit mantissa, and a NULL in every column
    (None, 2**62 + 1, None, None, None, None, None, None, None, None, None),
    (
        -3, -1, float("inf"), "", b"", False, dt.date(1969, 12, 31),
        dt.datetime(1969, 12, 31, 23, 59, 59, tzinfo=dt.timezone(dt.timedelta(hours=5))),
        [], {}, (None, None),
    ),
    # a naive timestamp is driver-local time on both paths
    (
        0, 0, 0.0, "naive", b"n", True, dt.date(2000, 2, 29),
        dt.datetime(2000, 2, 29, 12, 30), [0.5], {"k": None}, (2, None),
    ),
]
STRUCT = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("v", T.ArrayType(T.LongType(), False), True),
    ]
)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    "rows, schema",
    [(ROWS, DDL), ([], DDL), ([("a", [2**62 + 1]), ("b", None)], STRUCT)],
    ids=["ddl", "empty", "struct-type"],
)
def test_local_frame_matches_list_frame(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = _plan(got)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_near_dup_clusters_driver_path_is_a_local_relation(spark):
    pairs = local_frame(
        spark, [("a", "b"), ("b", "c"), ("d", "e")], "id_a string, id_b string"
    )
    nodes = local_frame(spark, [(x,) for x in "abcdefg"], "doc_id string")
    stats: dict = {}
    out = near_dup_clusters(pairs, nodes, stats=stats)
    assert stats["path"] == "driver"
    plan = _plan(out)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert dict(out.collect()) == {
        "a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f", "g": "g"
    }


def _create_data_frame_calls(tree: ast.AST) -> list[tuple[str | None, int]]:
    """(enclosing function, line) of every ``.createDataFrame(...)`` call."""
    calls = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                calls.append((fn, child.lineno))
            visit(child, fn)

    visit(tree, None)
    return calls


def test_only_local_frame_calls_create_data_frame():
    found = {}
    for root, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    calls = _create_data_frame_calls(ast.parse(f.read()))
                if calls:
                    found[os.path.relpath(path, PKG)] = calls
    assert [fn for fn, _ in found.pop("session.py", [])] == ["local_frame"]
    assert found == {}, f"createDataFrame outside session.local_frame: {found}"
