"""Driver-built frames are LocalRelations: no Python task at action time.

`spark.createDataFrame(list, schema)` plans a LogicalRDD over
`sc.parallelize`, which re-pickles its rows in Python tasks on every
action; `gipspark.session.local_frame` plans the same rows as a
LocalRelation. These tests check the helper against the list path, that
the operators which build frames from driver rows no longer hold a
Python-fed RDD scan, and (lint) that no module outside `queries/` goes
back to `createDataFrame` over a Python list.
"""

from __future__ import annotations

import ast
import datetime
import pathlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from gipspark.functions.multimodal import MEDIA_SCHEMA
from gipspark.operators.pip import EDGES_T
from gipspark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parents[1] / "gipspark"

_PAIR = StructType([StructField("a", LongType()), StructField("b", StringType())])
_MAP = StructType(
    [
        StructField("k", IntegerType(), False),
        StructField("m", MapType(StringType(), IntegerType(), True)),
    ]
)
_TS = StructType([StructField("t", TimestampType()), StructField("i", LongType(), False)])

HELPER_CASES = {
    "edges_array_of_struct_tuples": (
        [(1, [(0.0, 0.0, 1.0, 0.0), (1.0, 0.0, 0.0, 1.0)]), (2, []), (3, None)],
        f"poly_id long, __edges {EDGES_T}",
    ),
    "struct_as_tuple": (
        [(1, (7, "x")), (2, (None, None)), (3, None)],
        StructType([StructField("id", LongType(), False), StructField("s", _PAIR)]),
    ),
    "binary": ([(b"\x00\xff", 1), (None, 2), (bytearray(b"ab"), 3)], "b binary, i int"),
    "media_struct_with_nulls": (
        [
            (0, "image", b"\x01" * 8, {"width": 32, "height": 24, "sample_rate": None}),
            (1, "audio", b"\x02" * 8, {"width": None, "sample_rate": 16000, "n_frames": None}),
            (2, "video", b"", None),
        ],
        MEDIA_SCHEMA,
    ),
    "map_with_null_values": ([(1, {"a": 1, "b": None}), (2, {}), (3, None)], _MAP),
    "timestamp": (
        [
            (datetime.datetime(2020, 2, 29, 23, 59, 59, 999999), 1),
            (datetime.datetime(1969, 12, 31, 0, 0, tzinfo=datetime.timezone.utc), 2),
            (None, 3),
        ],
        _TS,
    ),
    "zero_rows_ddl": ([], "a long, b double, e " + EDGES_T),
    "zero_rows_struct": ([], MEDIA_SCHEMA),
}


def _root_node(df) -> str:
    return df._jdf.queryExecution().analyzed().nodeName()


@pytest.mark.parametrize("case", sorted(HELPER_CASES))
def test_local_frame_equals_list_frame(spark, case):
    rows, schema = HELPER_CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert _root_node(want) == "LogicalRDD"
    assert _root_node(got) == "LocalRelation"
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def _python_rdd_scans(df) -> list[str]:
    """Lineages of the executed plan's RDD scans that are fed by Python.

    A `Scan ExistingRDD` over a localCheckpoint is a JVM cache read
    (global_row_number pins its partitioning that way); one over
    `sc.parallelize` holds a PythonRDD, which runs Python tasks on every
    action."""

    def walk(node):
        if node.nodeName() == "AdaptiveSparkPlan":
            yield from walk(node.executedPlan())
            return
        yield node
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i))

    return [
        lineage
        for node in walk(df._jdf.queryExecution().executedPlan())
        if node.nodeName() == "Scan ExistingRDD"
        and "PythonRDD" in (lineage := node.rdd().toDebugString())
    ]


def _square(pid, cx, cy, r):
    corners = [(-r, -r), (r, -r), (r, r), (-r, r), (-r, -r)]
    return {"poly_id": pid, "rings": [[[cx + dx, cy + dy] for dx, dy in corners]]}


def _points(spark):
    return spark.range(200).select(
        F.col("id").alias("pid"),
        ((F.col("id") % 20) * 0.1 - 1.0).alias("lat"),
        ((F.col("id") / 20).cast("int") * 0.1 - 0.5).alias("lon"),
    )


def _pip(spark):
    from gipspark.operators.pip import pip_join

    return pip_join(_points(spark), [_square(1, 0.0, 0.0, 0.3), _square(2, 0.2, -0.4, 0.2)])


def _overlay(spark):
    from gipspark.operators.overlay import overlay_join

    return overlay_join(spark, [_square(1, 0.0, 0.0, 1.0)], [_square(2, 0.5, 0.5, 1.0)])


def _bbox(spark):
    from gipspark.operators.bbox import bbox_join

    box = {"box_id": 1, "lon_min": -0.2, "lat_min": -0.2, "lon_max": 0.2, "lat_max": 0.2}
    return bbox_join(_points(spark), [box])


def _row_number(spark):
    from gipspark.operators.ranking import global_row_number

    return global_row_number(_points(spark), ["lat", "pid"])


def _shortest_path(spark):
    from gipspark.operators.shortestpath import khop_cheapest

    edges = spark.range(10).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"), F.lit(2).cast("long").alias("w")
    )
    return khop_cheapest(edges, 0, 3)


def _empty_mst(spark):
    from gipspark.operators.mst import boruvka_mst

    return boruvka_mst(spark.range(0).select(*[F.col("id").alias(c) for c in "abw"]))


def _raster(spark):
    from gipspark.sources.fixtures import raster_cells_df

    return raster_cells_df(spark, ["h17v05"], px=4)


def _media(spark):
    from gipspark.functions.multimodal import synthetic_media_df

    return synthetic_media_df(spark, 6)


FRAMES = {
    "pip_join": _pip,
    "overlay_join": _overlay,
    "bbox_join": _bbox,
    "global_row_number": _row_number,
    "khop_cheapest": _shortest_path,
    "boruvka_mst_empty": _empty_mst,
    "raster_cells_df": _raster,
    "synthetic_media_df": _media,
}


@pytest.mark.parametrize("name", sorted(FRAMES))
def test_plan_scans_no_python_rdd(spark, name):
    df = FRAMES[name](spark)
    assert _python_rdd_scans(df) == []
    df.collect()  # the plan also runs


def _list_bound_names(fn: ast.AST) -> set[str]:
    return {
        t.id
        for node in ast.walk(fn)
        if isinstance(node, ast.Assign) and isinstance(node.value, (ast.List, ast.ListComp))
        for t in node.targets
        if isinstance(t, ast.Name)
    }


def _list_create_calls(tree: ast.AST) -> list[int]:
    """Lines of `createDataFrame(x, ...)` where x is a list display, a
    list comprehension, or a name the enclosing function binds to one."""
    bad = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        lists = _list_bound_names(fn)
        for node in ast.walk(fn):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                continue
            data = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "data"), None
            )
            if isinstance(data, (ast.List, ast.ListComp)) or (
                isinstance(data, ast.Name) and data.id in lists
            ):
                bad.append(node.lineno)
    return sorted(set(bad))


def test_no_list_built_frames_outside_queries():
    """Driver rows go through `local_frame`; `queries/` is exempt (its
    list-built frames are the registry's oracle-parity surface)."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG)
        if rel.parts[0] == "queries":
            continue
        found += [f"{rel}:{ln}" for ln in _list_create_calls(ast.parse(path.read_text()))]
    assert found == []


def test_list_lint_catches_each_form():
    src = (
        "def f(spark, s, xs):\n"
        "    a = spark.createDataFrame([(1,)], s)\n"
        "    b = spark.createDataFrame([(x,) for x in xs], s)\n"
        "    rows = []\n"
        "    c = spark.createDataFrame(rows, s)\n"
        "    d = spark.createDataFrame(data=[(1,)], schema=s)\n"
        "    e = spark.createDataFrame(pdf, s)\n"
    )
    assert _list_create_calls(ast.parse(src)) == [2, 3, 5, 6]
