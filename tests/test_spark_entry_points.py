"""The Spark-internal members the driver-side JDBC path calls.

``SparkConnection.driver_result`` and ``driver_write`` run Spark's own
JDBC and Python-conversion code on the driver, outside any Dataset or
task. Several of the members they call are ``private[spark]`` or
``private[sql]`` in Scala (public in the bytecode, so py4j reaches
them) and may change in any Spark release. Each is checked here by
Java reflection on the live session, so a pyspark upgrade that renames
one or changes its arity fails this test, naming the member and the
pyspark version, instead of failing a user's load or fetch. On the
Python side, ``row_converter`` restates
``SparkSession._inferSchemaFromList`` with pyspark's private inference
helpers; it is checked against ``createDataFrame`` here.
"""

from __future__ import annotations

import pyspark
import pytest

JDBC = "org.apache.spark.sql.execution.datasources.jdbc"

#: (class, member, parameter count); "<init>" is a constructor
ENTRY_POINTS = [
    ("org.apache.spark.TaskContext$", "empty", 0),
    ("org.apache.spark.TaskContext$", "setTaskContext", 1),
    ("org.apache.spark.TaskContext$", "unset", 0),
    ("org.apache.spark.sql.execution.python.EvaluatePython", "toJava", 3),
    ("org.apache.spark.sql.execution.python.EvaluatePython", "makeFromJava", 1),
    ("org.apache.spark.sql.execution.python.EvaluatePython", "registerPicklers", 0),
    ("org.apache.spark.api.python.SerDeUtil$AutoBatchedPickler", "<init>", 1),
    ("org.apache.spark.api.python.SerDeUtil", "initialize", 0),
    ("org.apache.spark.api.python.PythonRDD", "serveIterator", 2),
    ("org.apache.spark.sql.catalyst.CatalystTypeConverters",
     "createToCatalystConverter", 1),
    ("org.apache.spark.sql.catalyst.CatalystTypeConverters", "convertToScala", 2),
    ("org.apache.spark.sql.internal.SQLConf", "pysparkBinaryAsBytes", 0),
    ("org.apache.spark.sql.classic.SparkSession", "parseDataType", 1),
    (f"{JDBC}.JdbcUtils", "savePartition", 8),
    (f"{JDBC}.JdbcUtils", "getInsertStatement", 5),
    (f"{JDBC}.JdbcUtils", "tableExists", 2),
    (f"{JDBC}.JdbcUtils", "getSchemaOption", 2),
    (f"{JDBC}.JdbcUtils", "createTable", 5),
    (f"{JDBC}.JdbcUtils", "getSchema", 5),
    (f"{JDBC}.JdbcUtils$", "resultSetToSparkInternalRows", 5),
    ("org.apache.spark.executor.InputMetrics", "<init>", 0),
    ("org.apache.spark.sql.catalyst.CatalystTypeConverters",
     "createToScalaConverter", 1),
    (f"{JDBC}.JdbcRelationProvider", "<init>", 0),
    (f"{JDBC}.JdbcRelationProvider", "supportsDataType", 1),
    (f"{JDBC}.JdbcOptionsInWrite", "<init>", 1),
]


def _arities(spark, class_name: str, member: str) -> set[int] | None:
    """Parameter counts of *class_name*'s public *member* overloads,
    or None when the class does not load."""
    jvm = spark._jvm
    loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
    try:
        cls = jvm.java.lang.Class.forName(class_name, False, loader)
    except Exception:
        return None
    if member == "<init>":
        found = cls.getConstructors()
    else:
        found = [m for m in cls.getMethods() if m.getName() == member]
    return {m.getParameterCount() for m in found}


def test_driver_jdbc_entry_points_exist(spark):
    missing = []
    for class_name, member, arity in ENTRY_POINTS:
        arities = _arities(spark, class_name, member)
        if arities is None:
            missing.append(f"class {class_name} not found")
        elif arity not in arities:
            missing.append(
                f"{class_name}.{member}/{arity} not found "
                f"(arities present: {sorted(arities)})"
            )
    assert not missing, (
        f"pyspark {pyspark.__version__}: Spark-internal members the "
        "driver-side JDBC path (etlhelper_spark/connect.py) calls have "
        "changed:\n" + "\n".join(missing)
    )


def test_check_reports_a_missing_member(spark):
    assert _arities(spark, f"{JDBC}.JdbcUtils", "savePartition") == {8}
    assert _arities(spark, f"{JDBC}.JdbcUtils", "noSuchMember") == set()
    assert _arities(spark, f"{JDBC}.NoSuchClass", "apply") is None


def test_task_context_module_is_reachable(spark):
    module = getattr(getattr(spark._jvm.org.apache.spark, "TaskContext$"), "MODULE$")
    assert module.get() is None  # no task runs on the calling thread


def test_row_converter_matches_create_dataframe(spark):
    from collections import namedtuple
    from datetime import date, datetime
    from decimal import Decimal

    from pyspark.errors import PySparkException
    from pyspark.sql import Row

    from etlhelper_spark.connect import row_converter

    convert = row_converter(spark)
    Pair = namedtuple("Pair", "k v")
    cases = [
        ([{"b": 1, "a": "x"}, {"b": None, "a": "y", "extra": 2.5}], None),
        ([(1, Decimal("1.5"), date(1900, 3, 1)), (2, None, None)], ["i", "d", "dt"]),
        ([(1, 2, 3)], ["only_a"]),
        ([Pair(1, [1.5, None]), Pair(2, [])], None),
        ([{"m": {"k": 1}, "r": Row(x=1), "ts": datetime(2024, 1, 2, 3, 4, 5)}], None),
    ]
    for rows, names in cases:
        struct, internal = convert(rows, list(names) if names else None)
        df = spark.createDataFrame(rows, list(names) if names else None)
        assert struct == df.schema
        assert [struct.fromInternal(r) for r in internal] == df.collect()
    for bad in ([{"a": None}], [(object(),)]):
        with pytest.raises(PySparkException) as want:
            spark.createDataFrame(bad)
        with pytest.raises(PySparkException) as got:
            convert(bad)
        assert got.value.getCondition() == want.value.getCondition()
