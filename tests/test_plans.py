"""Plan-shape assertions: the scale-critical properties — filter
pushdown, column pruning, broadcast joins — verified on the actual
physical plans (not just results)."""

from pyspark.sql import functions as F

from etlhelper_spark.plans.queries import (
    q02_filter_project,
    q03_join_revenue,
)

SF = "/root/testdata/sf0.001"


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet(spark):
    df = q02_filter_project(spark, SF)
    plan = explain_str(df)
    assert "PushedFilters:" in plan
    assert "o_totalprice" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_projection_pruned(spark):
    df = q02_filter_project(spark, SF)
    plan = explain_str(df)
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    # only the 5 referenced columns are read, not all 6
    assert "o_orderstatus" not in read_schema


def test_dimension_joins_broadcast(spark):
    df = q03_join_revenue(spark, SF)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan


def test_whole_stage_codegen_active(spark):
    df = q02_filter_project(spark, SF)
    plan = explain_str(df)
    # formatted explain marks codegen stages with "[codegen id : N]"
    assert "codegen id" in plan


def test_streaming_session_window(spark, tmp_path):
    """session_window in a genuine streaming query (watermark +
    availableNow) — per-user activity sessions with a 30-min gap."""
    from pyspark.sql import functions as F

    from etlhelper_spark.streaming.windows import read_events_stream

    stream = read_events_stream(spark, SF)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("sessions_stream")
    assert out.count() > 0
    row = out.first()
    assert row["w"]["end"] >= row["w"]["start"]
    # session totals must cover every event
    total = out.agg(F.sum("n_events")).first()[0]
    batch_n = spark.read.parquet(f"{SF}/events.parquet").count()
    assert total <= batch_n  # late rows beyond watermark may drop
    assert total >= int(batch_n * 0.9)


def test_streaming_batch_equivalence(spark, tmp_path):
    """The streaming pipeline must produce exactly the batch result."""
    from etlhelper_spark.sources import read_parquet_table
    from etlhelper_spark.streaming import hourly_counts, streaming_hourly_counts

    batch = hourly_counts(
        read_parquet_table(spark, f"{SF}/events.parquet")
    )
    stream = streaming_hourly_counts(spark, SF, str(tmp_path / "ckpt"))
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in stream.collect()}
    assert b == s


def test_tpch_q5_runtime_bloom_filter(spark):
    from etlhelper_spark.plans.queries import q91_tpch_q5

    plan = explain_str(q91_tpch_q5(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    # bloom injection requires (a) an application-side scan over the
    # 10 GB threshold and (b) a SHUFFLE join — both false at test
    # scale where everything broadcasts.  Force both to verify the
    # session-enabled path injects might_contain at the probe scan,
    # exactly what happens unforced on a 100 TB lineitem.
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        plan_forced = explain_str(q91_tpch_q5(spark, SF))
        assert "might_contain" in plan_forced
        assert "SortMergeJoin" in plan_forced
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_tpch_q4_semi_join_no_fact_shuffle(spark):
    from etlhelper_spark.plans.queries import q100_tpch_q4

    plan = explain_str(q100_tpch_q4(spark, SF))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q17_single_lineitem_agg(spark):
    from etlhelper_spark.plans.queries import q92_tpch_q17

    plan = explain_str(q92_tpch_q17(spark, SF))
    # decorrelated: no per-row subquery artifacts, partial aggregate
    # present for the per-part average
    assert "Subquery" not in plan or "ReusedSubquery" in plan
    assert "HashAggregate" in plan


def test_quality_filter_zero_shuffle(spark):
    from etlhelper_spark.plans.queries import q99_quality_filter

    plan = explain_str(q99_quality_filter(spark, SF))
    assert "Exchange" not in plan  # pure scan pass, no shuffle at all


def test_distribute_sort_by_partitioning_control(spark, src_conn):
    """DISTRIBUTE BY hash-partitions without a global sort; SORT BY
    orders within partitions only — the SQL-level partitioning control
    for preparing co-located writes."""
    src_conn.table_dataframe("orders").createOrReplaceTempView(
        "orders_dsb"
    )
    plan = explain_str(
        spark.sql(
            "SELECT o_custkey, o_totalprice FROM orders_dsb "
            "DISTRIBUTE BY o_custkey SORT BY o_totalprice"
        )
    )
    assert "hashpartitioning(o_custkey" in plan
    assert "Sort" in plan
    # local sort, not a global ordering: exactly the one repartition
    # exchange, no rangepartitioning
    assert "rangepartitioning" not in plan


def test_lateral_topk_decorrelates_to_window(spark):
    from etlhelper_spark.plans.queries import q131_lateral_join

    plan = explain_str(q131_lateral_join(spark, SF))
    assert "WindowGroupLimit" in plan  # rank-limit pushdown, not per-row subquery
    assert "CartesianProduct" not in plan


def test_sql_udf_inlines_no_python_eval(spark):
    from etlhelper_spark.plans.queries import q129_sql_udf

    plan = explain_str(q129_sql_udf(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CASE WHEN" in plan  # body inlined as an expression


def test_edit_join_no_nested_loop(spark):
    """The entire point of edit_distance_join: a levenshtein-theta
    join would plan BroadcastNestedLoopJoin/CartesianProduct; both
    candidate strategies must stay equi-join shaped."""
    from etlhelper_spark.functions import edit_distance_join

    a = spark.createDataFrame(
        [(i, f"Customer#{i:09d}") for i in range(50)], "id long, s string"
    )
    for strategy in ("deletes", "grams"):
        plan = explain_str(
            edit_distance_join(a, a, max_dist=1, strategy=strategy)
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def test_phonetic_join_no_nested_loop(spark):
    """Phonetic blocking must stay a hash equi-join on the key — the
    scale contract (blocking never goes all-pairs)."""
    from etlhelper_spark.functions.dedup import phonetic_block_join

    a = spark.createDataFrame(
        [(i, f"Name{i}") for i in range(50)], "id long, s string"
    )
    plan = explain_str(phonetic_block_join(a, a, max_bucket=100))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_packing_single_shuffle(spark):
    """pack_documents is one hash partition on the shard plus the
    Arrow-batched per-shard pass — no second exchange, no sort-merge
    machinery beyond the groupBy."""
    from etlhelper_spark.functions.packing import pack_documents

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = explain_str(pack_documents(d, 256, n_shards=8))
    # formatted mode lists each node in the tree AND a details
    # section, so count tree occurrences only
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" in tree


def test_chunk_documents_zero_exchange_no_python(spark):
    """chunk_documents (the library chunker, q269) is a pure narrow
    map — split, generated start sequence, posexplode, slice — any
    Exchange or Python stage would mean it stopped running at scan
    speed."""
    from etlhelper_spark.functions.chunking import chunk_documents

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = explain_str(chunk_documents(d, size=16, overlap=4))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_chunk_then_pack_single_shuffle(spark):
    """q270's composition keeps packing's one-exchange shape: the
    chunk stage is narrow, so the whole pipeline shuffles exactly
    once (the shard hash partition), and only (chunk_id, n_tokens)
    rows move — the text column must not appear in the exchange."""
    from etlhelper_spark.plans.queries import q270_chunk_then_pack

    plan = explain_str(q270_chunk_then_pack(spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" in tree


def test_repetition_stats_zero_exchange_no_python(spark):
    """repetition_stats (q271) is a pure map: per-document gram
    frequencies read off sorted-array run boundaries inside one
    codegen projection — zero exchanges, no explode-and-aggregate,
    no window, no join, no Python."""
    from etlhelper_spark.functions.text import repetition_stats

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = explain_str(repetition_stats(d))
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "Generate" not in plan  # no explode anywhere


def test_pack_token_windows_single_aggregate_exchange(spark):
    """The tensor build (q281's engine half) ships each token array
    exactly once: ONE exchange for the pack-keyed window aggregate
    (partial+final ObjectHashAggregate around it), the small
    assignment side broadcast at this scale, metadata built in the
    same projection — no window function, no second array shuffle."""
    from etlhelper_spark.functions.packing import (
        pack_documents,
        pack_token_windows,
    )
    from etlhelper_spark.functions.text import word_token_ids

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    dt = word_token_ids(d).localCheckpoint()
    asg = pack_documents(
        dt, budget=256, tokens_col="n_tokens", n_shards=4
    ).localCheckpoint()
    plan = explain_str(
        pack_token_windows(dt, asg, budget=256, with_metadata=True)
    )
    tree = plan.split("\n\n")[0]
    # one CORPUS shuffle: the pack-keyed hashpartitioning aggregate
    # (broadcast join adds a BroadcastExchange, which is not a data
    # shuffle; the reverse membership gate adds Exchange
    # SinglePartition nodes that move one count row per partition,
    # never the token arrays)
    import re

    # \bExchange\b cannot match inside BroadcastExchange (no word
    # boundary before the E), so this counts true shuffles only;
    # formatted mode keeps partitioning in the detail sections, so
    # subtract the SinglePartition (one-count-row) exchanges there
    n_exchanges = len(re.findall(r"\bExchange\b", tree))
    n_single = len(
        re.findall(r"Arguments: SinglePartition", plan)
    )
    assert n_exchanges - n_single == 1, tree
    assert "Window" not in tree


def test_corpus_count_pinned():
    """One corpus number everywhere: every declared query has an
    oracle, and the documented count can't silently drift from the
    registry (VERDICT r2: COVERAGE/README/commit messages disagreed)."""
    from etlhelper_spark.plans import ORACLES, QUERIES

    assert len(QUERIES) == len(ORACLES) == 288


def test_round3_plan_shapes(spark):
    """Scale-critical shapes of the round-3 queries, asserted on real
    plans: q148 one fact-fact shuffle-join; q156/q158 broadcast the
    tiny stats side back; q157 partial-aggregates map-side; q160's
    token-level state built from the per-(token, doc) rollup."""
    from etlhelper_spark.plans.queries import (
        q148_tpch_q12_priority,
        q156_winsorize,
        q157_trend_fit,
        q158_zscore_outliers,
        q160_inverted_index,
    )

    plan = explain_str(q148_tpch_q12_priority(spark, SF))
    # both fact tables shuffle once each on orderkey, plus the
    # two-phase aggregate exchange (4 total; a bucketed layout removes
    # the two join exchanges — see tests/test_bucketing.py)
    assert plan.count("Exchange") <= 4

    plan = explain_str(q156_winsorize(spark, SF))
    assert "BroadcastHashJoin" in plan  # percentile bounds broadcast

    plan = explain_str(q158_zscore_outliers(spark, SF))
    assert "BroadcastHashJoin" in plan  # mu/sd stats broadcast

    plan = explain_str(q157_trend_fit(spark, SF))
    # regr_* moments partial-aggregate before the shuffle
    assert "partial_regr_slope" in plan or "partial" in plan.lower()

    plan = explain_str(q160_inverted_index(spark, SF))
    # two-stage aggregate: (token, doc) rollup feeds the token rollup
    assert plan.count("HashAggregate") >= 4


def test_winnow_query_zero_exchange_scan(spark):
    """q151 is a pure projection over the documents scan: no shuffle,
    no Python stage anywhere in the executed plan."""
    from etlhelper_spark.plans.queries import q151_winnow_fingerprint

    plan = explain_str(q151_winnow_fingerprint(spark, SF))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_weighted_sample_is_top_n_not_full_sort(spark):
    """The E-S race must compile to TakeOrderedAndProject (per-
    partition top-n + driver merge) — a global Sort would shuffle
    every loser."""
    from etlhelper_spark.plans.queries import q190_weighted_sample

    plan = explain_str(q190_weighted_sample(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_heavy_hitters_recount_is_broadcast_semi(spark):
    """Pass 2 must filter the corpus behind a broadcast LeftSemi at
    the scan — candidates are the bounded side."""
    from etlhelper_spark.functions.util import heavy_hitters

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from pyspark.sql import functions as F

    toks = docs.select(F.explode(F.split("text", " ")).alias("t"))
    plan = explain_str(
        heavy_hitters(toks, "t", min_frac=0.01, capacity=512)
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_pq_adc_scan_touches_codes_only(spark):
    """ADC search must not join or scan the vector payload: the plan
    reads the encoded (id, codes) frame and the broadcast query side
    only — no second embeddings scan on the corpus path."""
    from etlhelper_spark.functions.pq import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    # a FRESH parquet path: other modules cache the shared testdata
    # embeddings (module fixtures), and Spark's cache manager would
    # substitute InMemoryTableScan for our parquet scan assertion
    import tempfile

    fresh = tempfile.mkdtemp(prefix="ehs_plan_pq_")
    spark.read.parquet(f"{SF}/embeddings.parquet").write.mode(
        "overwrite"
    ).parquet(fresh)
    e = spark.read.parquet(fresh)
    books = pq_train(e, m_sub=4, k_codes=8, iterations=2)
    enc = pq_encode(e, books).localCheckpoint()
    plan = explain_str(pq_adc_topk(enc, books, e.where("vec_id < 2"), k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # corpus side is the checkpointed codes frame; the only parquet
    # scan NODE in the plan is the broadcast query side's (formatted
    # explain prints each node twice: tree line + detail header)
    import re

    scan_nodes = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scan_nodes) == 1
    assert "LessThan(vec_id,2)" in plan  # and it IS the query side


def test_chunk_windows_zero_exchange_no_python(spark):
    """q211 is a pure sequence/slice/md5 projection over the documents
    scan — any Exchange or Python stage would mean the chunker stopped
    being a scan-speed operator."""
    from etlhelper_spark.plans.queries import q211_chunk_windows

    plan = explain_str(q211_chunk_windows(spark, SF))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_int8_quant_stats_broadcast_no_python(spark):
    """q217's d-row calibration table must come back as a broadcast —
    shuffling the exploded (vec, dim, value) corpus against it would
    move the whole corpus twice."""
    from etlhelper_spark.plans.queries import q217_int8_quantization

    plan = explain_str(q217_int8_quantization(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_knn_vote_query_side_broadcast(spark):
    """q216 scores the corpus against a BROADCAST bounded query side
    (q31's contract) — the corpus scan must never shuffle for the
    scoring join, and cosine stays in JVM codegen."""
    from etlhelper_spark.plans.queries import q216_knn_label_vote

    plan = explain_str(q216_knn_label_vote(spark, SF))
    assert (
        "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    )
    assert "Python" not in plan


def test_repeat_to_budget_no_corpus_wide_window(spark):
    """q282's partial-epoch race must never put a whole source in one
    task: every window in the plan is either bucketed (partitioned by
    (source, __bkt) — a 1/partial_buckets slice of a source) or runs
    over the bucket-sum aggregate (≤ partial_buckets rows per source).
    Both specs mention __bkt; a bare per-source corpus window — the
    r11 scale-killer — would not."""
    import re

    from etlhelper_spark.plans.queries import q282_epoch_repeats

    plan = explain_str(q282_epoch_repeats(spark, SF))
    specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
    assert specs, "expected window specs in the q282 plan"
    for spec in specs:
        assert "__bkt" in spec, spec


def test_chunk_token_ids_zero_exchange_no_python(spark):
    """chunk_token_ids (q287's chunk stage) is a pure codegen map —
    sequence/posexplode/slice in one projection: zero exchanges, no
    Python, parallelism is the scan's."""
    from etlhelper_spark.functions.chunking import chunk_token_ids
    from etlhelper_spark.functions.text import word_token_ids

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    dt = word_token_ids(d).localCheckpoint()
    plan = explain_str(chunk_token_ids(dt, size=32))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_dedup_exact_partial_window_group_limit(spark):
    """dedup_exact's survivor pick must keep Spark's rank-limit
    pushdown: a Partial WindowGroupLimit BELOW the exchange reduces
    every map task to one row per fingerprint BEFORE the shuffle —
    the property that makes a mass-duplicate fingerprint (boilerplate
    duplicated millions of times) a non-event instead of one task
    sorting the whole hot group. Losing it (a filter shape change,
    a config regression) would reintroduce the skew silently."""
    from etlhelper_spark.functions.dedup import dedup_exact

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    import re

    plan = explain_str(dedup_exact(d, "text", "doc_id"))
    assert "WindowGroupLimit" in plan
    # formatted explain lists the node's mode as the last Argument:
    # the PARTIAL (pre-shuffle) instance is the skew guard
    assert re.search(
        r"row_number\(\), 1, Partial", plan
    ), plan


# -- query work dirs (plans/queries.py::_work_dir) ----------------------

# the state and index lifecycle queries of perfbench's query_state
# workload
LIFECYCLE_QUERIES = [
    "q170_ivm_retraction",
    "q176_dedup_incremental",
    "q234_ivfpq_append",
    "q185_incremental_index",
    "q264_forget_golden",
]


def _new_work_dirs(run):
    from etlhelper_spark.plans import queries

    before = set(queries._WORK_DIRS)
    run()
    return [d for d in queries._WORK_DIRS if d not in before]


def test_clear_removes_query_work_dirs_but_keeps_cached_indexes(spark):
    import os

    from etlhelper_spark.plans import queries

    idx = queries.ivf_index_cached(spark, SF)
    (work,) = _new_work_dirs(
        lambda: queries.QUERIES["q234_ivfpq_append"](spark, SF).collect()
    )
    assert os.path.basename(work).startswith("ehs_ivfpq_app_")
    assert os.listdir(work)
    queries.clear_stage_caches()
    assert not os.path.exists(work)
    assert os.listdir(idx) and queries.ivf_index_cached(spark, SF) == idx
    assert idx in queries._WORK_DIRS


def test_threads_running_queries_get_distinct_work_dirs(spark):
    from concurrent.futures import ThreadPoolExecutor

    from etlhelper_spark.plans import queries

    q = queries.QUERIES["q176_dedup_incremental"]

    def run(_):
        return sorted(map(tuple, q(spark, SF).collect()))

    def both():
        with ThreadPoolExecutor(max_workers=2) as pool:
            a, b = pool.map(run, range(2))
        assert a == b

    dirs = _new_work_dirs(both)
    assert len(dirs) == len(set(dirs)) == 2
    queries.clear_stage_caches()


def test_lifecycle_queries_leave_no_temp_dirs(tmp_path):
    """A process that runs the lifecycle queries and exits leaves no
    ``ehs_*`` entry in its temp dir: every query work dir lives under
    one root that goes at exit."""
    import os
    import subprocess
    import sys

    script = (
        "from etlhelper_spark import get_session\n"
        "from etlhelper_spark.plans import QUERIES\n"
        "spark = get_session('leak', master='local[2]', "
        "shuffle_partitions=2)\n"
        f"for name in {LIFECYCLE_QUERIES!r}:\n"
        f"    QUERIES[name](spark, {SF!r}).collect()\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    subprocess.run(
        [sys.executable, "-c", script], cwd=repo, env=env, check=True,
        capture_output=True, timeout=600,
    )
    assert [e for e in os.listdir(tmp_path) if e.startswith("ehs_")] == []


def test_work_dir_is_thread_safe(monkeypatch):
    """More threads than cores, switching often, all making work dirs
    from a fresh state: one root, and every dir distinct and
    registered."""
    import os
    import sys
    import threading

    from etlhelper_spark.plans import queries

    monkeypatch.setattr(queries, "_WORK_ROOT", None)
    monkeypatch.setattr(queries, "_WORK_DIRS", [])
    made: list[str] = []
    start = threading.Barrier(16)

    def make():
        start.wait(timeout=60)
        for _ in range(20):
            made.append(queries._work_dir("ehs_t_"))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=make) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(set(made)) == len(made) == 320
    assert sorted(queries._WORK_DIRS) == sorted(made)
    assert {os.path.dirname(d) for d in made} == {queries._WORK_ROOT}
    queries.clear_stage_caches()
    assert os.listdir(queries._WORK_ROOT) == []
