"""Partitioned writes + partition pruning: the data-lake layout that
makes time/category-sliced scans touch only relevant directories."""

from pyspark.sql import functions as F

from etlhelper_spark import connect_files


def test_partitioned_write_and_pruning(spark, src_conn, tmp_path):
    d = str(tmp_path)
    dest = connect_files(d, spark=spark)
    events = src_conn.table_dataframe("events").withColumn(
        "event_date", F.to_date("ts")
    )
    dest.write_dataframe(
        events, "events_by_type", partition_by=["event_type"]
    )
    back = dest.table_dataframe("events_by_type")
    assert back.count() == events.count()

    pruned = back.where(F.col("event_type") == "purchase")
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    # the filter must land in PartitionFilters (directory pruning),
    # not in PushedFilters/post-scan Filter
    assert "PartitionFilters" in plan
    part_line = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "event_type" in part_line
    assert pruned.count() == events.where(
        F.col("event_type") == "purchase"
    ).count()


def test_execute_ddl_on_files_backend(spark, src_conn):
    from etlhelper_spark import execute, fetchall

    execute(
        "CREATE OR REPLACE TEMP VIEW big_nations AS "
        "SELECT * FROM nation WHERE n_regionkey = 0",
        src_conn,
    )
    rows = fetchall("SELECT count(*) AS n FROM big_nations", src_conn)
    assert rows[0]["n"] == 5
