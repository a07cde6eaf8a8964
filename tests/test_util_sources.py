"""salted_join equivalence, ensure_parallelism, CSV/JSON backends."""

from pyspark.sql import functions as F

from etlhelper_spark import connect_files, copy_table_rows, fetchall
from etlhelper_spark.functions.util import ensure_parallelism, salted_join

SF = "/root/testdata/sf0.001"


def test_salted_join_equals_plain_join(spark, src_conn):
    o = src_conn.table_dataframe("orders")
    c = src_conn.table_dataframe("customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = o.join(c, "o_custkey").groupBy("c_mktsegment").count()
    salted = salted_join(o, c, "o_custkey", salt=8).groupBy(
        "c_mktsegment"
    ).count()
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_join_row_count(spark, src_conn):
    o = src_conn.table_dataframe("orders")
    c = src_conn.table_dataframe("customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    assert salted_join(o, c, "o_custkey").count() == o.join(c, "o_custkey").count()


def test_ensure_parallelism_noop_when_enough(spark):
    df = spark.range(1000).repartition(64)
    assert ensure_parallelism(df).rdd.getNumPartitions() == 64


def test_ensure_parallelism_expands_single_partition(spark):
    df = spark.range(1000).coalesce(1)
    out = ensure_parallelism(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_csv_backend_roundtrip(spark, src_conn, tmp_path):
    d = str(tmp_path)
    dest = connect_files(d, file_format="csv", spark=spark)
    copy_table_rows("region", src_conn, dest)
    rows = fetchall("SELECT * FROM region ORDER BY r_regionkey", dest)
    assert len(rows) == 5
    assert rows[0]["r_name"] == "AFRICA"


def test_json_backend_roundtrip(spark, src_conn, tmp_path):
    d = str(tmp_path)
    dest = connect_files(d, file_format="json", spark=spark)
    copy_table_rows("nation", src_conn, dest)
    rows = fetchall("SELECT count(*) AS n FROM nation", dest)
    assert rows[0]["n"] == 25


def test_orc_backend_roundtrip_preserves_types(spark, src_conn, tmp_path):
    d = str(tmp_path)
    dest = connect_files(d, file_format="orc", spark=spark)
    copy_table_rows("orders", src_conn, dest)
    src = src_conn.table_dataframe("orders")
    out = dest.table_dataframe("orders")
    # ORC keeps the full schema (unlike csv/json round-trips)
    assert out.schema == src.schema
    assert out.count() == src.count()
    a = fetchall(
        "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 3",
        dest,
    )
    b = fetchall(
        "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 3",
        src_conn,
    )
    assert a == b


def test_xml_backend_roundtrip(spark, src_conn, tmp_path):
    """Spark 4's built-in XML source as a files backend: write
    region out as <rows><row>...</row></rows>, read it back through
    the same connection machinery as csv/json/orc."""
    d = str(tmp_path)
    dest = connect_files(d, file_format="xml", spark=spark)
    copy_table_rows("region", src_conn, dest)
    rows = fetchall(
        "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey", dest
    )
    assert len(rows) == 5
    assert rows[0]["r_name"] == "AFRICA"
    # raw payload really is XML with the configured row tag
    import glob as _glob

    part = _glob.glob(f"{d}/region.xml/part-*")[0]
    assert "<row>" in open(part).read()


# ---------------------------------------------------------------------------
# range_join (bucketed point-in-interval equi-join)
# ---------------------------------------------------------------------------
def _range_fixtures(spark):
    from pyspark.sql import functions as F

    events = spark.createDataFrame(
        [(i, f"2024-01-01 {h:02d}:{m:02d}:00") for i, (h, m) in enumerate(
            [(0, 30), (1, 0), (1, 59), (2, 0), (5, 15), (23, 59)]
        )],
        "event_id long, ts_s string",
    ).select("event_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    intervals = spark.createDataFrame(
        [
            (100, "2024-01-01 00:45:00", "2024-01-01 02:00:00"),  # spans 3 buckets
            (200, "2024-01-01 05:00:00", "2024-01-01 05:30:00"),
            (300, "2024-01-01 07:00:00", "2024-01-01 07:00:00"),  # degenerate
        ],
        "iv_id long, s string, e string",
    ).select(
        "iv_id",
        F.col("s").cast("timestamp_ntz").alias("w_start"),
        F.col("e").cast("timestamp_ntz").alias("w_end"),
    )
    return events, intervals


def test_range_join_equals_theta_join(spark):
    from etlhelper_spark.functions.util import range_join

    events, intervals = _range_fixtures(spark)
    got = range_join(events, intervals, "ts", "w_start", "w_end", 3600)
    naive = events.join(
        intervals,
        (events.ts >= intervals.w_start) & (events.ts < intervals.w_end),
    )
    key = lambda df: sorted((r["event_id"], r["iv_id"]) for r in df.collect())
    assert key(got) == key(naive)
    # end-exclusive: the 02:00:00 event does NOT match [00:45, 02:00)
    assert (4 - 1, 100) not in key(got) or True  # documented via naive equality


def test_range_join_left_keeps_unmatched(spark):
    from etlhelper_spark.functions.util import range_join

    events, intervals = _range_fixtures(spark)
    got = range_join(
        events, intervals, "ts", "w_start", "w_end", 3600, how="left"
    )
    rows = {r["event_id"]: r["iv_id"] for r in got.collect()}
    assert len(rows) == events.count()          # nothing lost
    assert rows[0] is None                      # 00:30 before any window
    assert rows[1] == 100 and rows[2] == 100    # inside first window
    assert rows[3] is None                      # 02:00 excluded (end-exclusive)
    assert rows[4] == 200


def test_range_join_plans_hash_join_not_nested_loop(spark):
    from etlhelper_spark.functions.util import range_join

    events, intervals = _range_fixtures(spark)
    bucketed = range_join(events, intervals, "ts", "w_start", "w_end", 3600)
    quadratic = ("NestedLoop", "CartesianProduct")
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert not any(q in plan for q in quadratic)
    naive = events.join(
        intervals,
        (events.ts >= intervals.w_start) & (events.ts < intervals.w_end),
    )
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    # what we're avoiding: a quadratic join strategy
    assert any(q in naive_plan for q in quadratic)


def test_range_join_rejects_bad_how(spark):
    import pytest as _pytest

    from etlhelper_spark.functions.util import range_join

    events, intervals = _range_fixtures(spark)
    with _pytest.raises(ValueError, match="inner/left"):
        range_join(events, intervals, "ts", "w_start", "w_end", how="outer")


def test_read_parquet_merge_schema_evolution(spark, tmp_path):
    from etlhelper_spark.sources import read_parquet_table

    path = str(tmp_path / "evolved")
    spark.range(5).selectExpr("id", "id * 2 AS a").write.parquet(path)
    spark.range(5, 8).selectExpr(
        "id", "id * 2 AS a", "'new' AS b"
    ).write.mode("append").parquet(path)

    # default read may resolve to either footer's schema; merged read
    # must surface the union with nulls for pre-evolution files
    df = read_parquet_table(spark, path, merge_schema=True)
    assert set(df.columns) == {"id", "a", "b"}
    rows = {r.id: r.b for r in df.collect()}
    assert rows[6] == "new" and rows[0] is None
