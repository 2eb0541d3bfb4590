"""Driver-side constant tables are in-JVM LocalRelations.

``spark.createDataFrame(<python list>)`` plans a ``LogicalRDD`` over a
pickled ``parallelize``: every stage that scans it starts Python worker
tasks and blocks on their sockets, a cost no Python node in the plan
shows. ``io.local_frame`` builds the same table as a ``LocalRelation``.
These tests pin that every constant table goes through it and that it
yields the frame ``createDataFrame`` would.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import types as T

from demy_spark import queries as Q
from demy_spark.io import local_frame
from demy_spark.operators.multimodal import MEDIA_SCHEMA

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "demy_spark")


def test_no_create_dataframe_outside_local_frame():
    stray = []
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            tree = ast.parse(open(path, encoding="utf-8").read(), path)
            allowed = {
                id(n)
                for fn in ast.walk(tree)
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
                for n in ast.walk(fn)
            }
            stray += [
                f"{os.path.relpath(path, PKG)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "createDataFrame"
                and id(n) not in allowed
            ]
    assert not stray, stray


def _python_fed_scans(df) -> list[str]:
    """``LogicalRDD`` leaves of the optimized plan whose RDD lineage
    runs through a ``PythonRDD``. A lazy ``localCheckpoint`` is also a
    ``LogicalRDD``, so the lineage, not the node class, tells a
    ``parallelize``-fed table apart."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            lineage = leaf.rdd().toDebugString()
            if "PythonRDD" in lineage:
                out.append(lineage)
    return out


@pytest.mark.parametrize(
    "name",
    [
        "q117_bm25_search",
        "q134_phrase_search",
        "q138_hybrid_rrf",
        "q151_quantile_sketch",
        # the result is a driver-built rank table; its iterations run
        # on the driver, over driver-held node and transition tables
        "q152_supplier_pagerank",
    ],
)
def test_constant_tables_start_no_python_worker(name, spark, sf_dir):
    df = Q.REGISTRY[name].fn(spark, sf_dir)
    assert _python_fed_scans(df) == []


_SHAPES = {
    "media": (
        [
            (1, bytearray(b"\x89PNG\r\n"), ("image/png", 64, 48, 0)),
            (2, bytearray(b"RIFF"), None),
            (3, None, ("video/mp4", None, None, 3000)),
        ],
        MEDIA_SCHEMA,
    ),
    "int_double": ([(0, 0.5), (7, -1.25), (2, None)], "generation int, best_fitness double"),
    "boolean": ([(0, True), (1, False), (2, None)], "version int, is_best boolean"),
    "array_string": ([(1, ["a", "b"]), (2, []), (3, None)], "center_id long, tags array<string>"),
    "array_double": (
        [("p", [0.0, 1.5]), ("q", [None, -2.0]), ("r", None)],
        T.StructType(
            [
                T.StructField("name", T.StringType()),
                T.StructField("xs", T.ArrayType(T.DoubleType())),
            ]
        ),
    ),
    "nulls": (
        [(0, None, None, None, 5), (1, "a", "b", 3, 4)],
        "iteration int, w1 string, w2 string, pair_count long, tokens_after long",
    ),
    "empty": ([], "query_id long, qtext string"),
}


@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_local_frame_matches_create_dataframe(shape, spark):
    rows, schema = _SHAPES[shape]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    # the JVM-side schema too (the Python frame caches its own copy)
    assert got.select("*").schema == want.select("*").schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    # a toArrow() result goes back in by column position
    table = got.toArrow()
    table = table.rename_columns([f"c{i}" for i in range(table.num_columns)])
    again = local_frame(spark, table, schema)
    assert again.schema == want.schema
    assert again.collect() == want.collect()
    plan = again._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
