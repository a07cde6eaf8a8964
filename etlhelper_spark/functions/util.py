"""Shared helpers for the extension operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


class _Unrenderable(Exception):
    """A value with no safe SQL-text literal form (falls back to the
    Column build in literal_frame)."""


def _escaped_string_literals(spark=None) -> bool:
    """True when the session parses string literals in LEGACY escaped
    mode (``spark.sql.parser.escapedStringLiterals=true``), where the
    backslash escapes `_sql_lit` emits are taken LITERALLY — rendering
    there would silently corrupt strings ('a\\b' stores as 'a\\\\b')
    and IN lists would match nothing. There is no mode-independent
    text form for backslashes/control chars, so callers fall back to
    the Column build / isin when this returns True (ADVICE r12)."""
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return False
    try:
        return (
            str(
                spark.conf.get(
                    "spark.sql.parser.escapedStringLiterals", "false"
                )
            ).lower()
            == "true"
        )
    except Exception:
        return True  # unknown parser mode: take the safe Column path


def _sql_str(s: str) -> str:
    """Body of a single-quoted SQL string literal in the DEFAULT
    (backslash-escaped) parser mode, byte-for-byte equal to *s* after
    parsing. Only valid when ``_escaped_string_literals`` is False."""
    out = []
    for ch in s:
        if ch == "\\":
            out.append("\\\\")
        elif ch == "'":
            out.append("\\'")
        elif ord(ch) < 0x20 or ord(ch) == 0x7F:
            out.append("\\u%04X" % ord(ch))
        else:
            out.append(ch)
    return "".join(out)


def _sql_lit(v, dt) -> str:
    """SQL literal text for one Python value, mirroring the Column
    path's ``F.lit(v).cast(dt)`` — the outer CAST to the field's DDL
    reproduces lit()'s implicit typing exactly (int widening, double→
    float truncation, string parses). Doubles render through repr(),
    Python's shortest round-trip form, which a string→double CAST
    re-parses to the identical IEEE-754 bits JVM-side (similarity's
    _dlit discipline). Raises _Unrenderable for types without a safe
    text form (datetime/Decimal/map/nested rows — rare in state rows)."""
    from pyspark.sql.types import ArrayType

    ddl = dt.simpleString()
    if v is None:
        return f"CAST(NULL AS {ddl})"
    if isinstance(v, bool):
        return "CAST({} AS {})".format("TRUE" if v else "FALSE", ddl)
    if isinstance(v, int):
        return f"CAST({v} AS {ddl})"
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            # no non-nullable literal form; Column build handles these
            raise _Unrenderable("non-finite float")
        # repr is the shortest round-trip decimal; the JVM's correctly
        # rounded parse yields the identical IEEE-754 bits, and the D
        # suffix keeps it a (non-nullable) double literal, matching
        # F.lit's nullability
        return f"CAST({v!r}D AS {ddl})"
    if isinstance(v, str):
        # escape to Spark's default backslash-escaped single-quoted
        # literal; control chars go through \uXXXX so the parsed
        # string is byte-for-byte the Python value. Callers gate on
        # _escaped_string_literals (legacy parser mode has no
        # equivalent text form).
        return "CAST('{}' AS {})".format(_sql_str(v), ddl)
    if isinstance(v, (bytearray, memoryview)):
        v = bytes(v)
    if isinstance(v, bytes):
        return "CAST(X'{}' AS {})".format(v.hex(), ddl)
    if isinstance(v, (list, tuple)):
        if not isinstance(dt, ArrayType):
            raise _Unrenderable(type(v))
        if not v:
            return f"CAST(array() AS {ddl})"
        elems = ", ".join(_sql_lit(x, dt.elementType) for x in v)
        return f"CAST(array({elems}) AS {ddl})"
    raise _Unrenderable(type(v))


def in_values(col: str, values):
    """``col IN (...)`` as ONE parsed expression. ``Column.isin``
    creates every element literal through its own py4j round trip
    (~3 ms each — a 300-int probe list costs ~1 s of driver time per
    build); the SQL text parses to the identical ``In`` predicate
    (same pushdown, same null semantics) in one trip. *col* is a
    column NAME (backtick-quoted here); falls back to ``isin`` for
    empty lists and element types without a safe text form."""
    from pyspark.sql import functions as F

    vals = list(values)
    if not vals:
        return F.col(col).isin(vals)
    parts = []
    checked_parser = False
    for v in vals:
        if v is None:
            parts.append("NULL")
        elif isinstance(v, bool):
            parts.append("TRUE" if v else "FALSE")
        elif isinstance(v, int):
            parts.append(str(v))
        elif isinstance(v, float):
            if v != v or v in (float("inf"), float("-inf")):
                return F.col(col).isin(vals)
            parts.append(f"{v!r}D")
        elif isinstance(v, str):
            # legacy escaped-literal parser mode has no text form for
            # backslashes/control chars — silent wrong matches, not an
            # error — so string lists fall back to isin there
            if not checked_parser:
                if _escaped_string_literals():
                    return F.col(col).isin(vals)
                checked_parser = True
            parts.append("'{}'".format(_sql_str(v)))
        else:
            return F.col(col).isin(vals)
    # replicate F.col's MULTIPART resolution: each dot-separated part
    # is quoted separately so 'payload.key' resolves as nested-field
    # access, exactly as the empty-list/fallback branch's F.col does
    # (ADVICE r12); literal backticks in a part double per SQL rules
    ref = ".".join(
        "`{}`".format(p.replace("`", "``")) for p in col.split(".")
    )
    return F.expr("{} IN ({})".format(ref, ", ".join(parts)))


def literal_frame(spark, rows, schema) -> DataFrame:
    """A small DataFrame of driver-side values, built as PURE CATALYST
    LITERALS (range(1) + explode of a struct-literal array) instead of
    ``spark.createDataFrame``.

    Why: a local-list ``createDataFrame`` is RDD-backed — EVERY
    evaluation of the frame (each write, each .first(), each join that
    re-executes the subtree) launches a Python-worker roundtrip to
    re-pickle the rows. Measured on this machine: a one-row
    state-write through createDataFrame costs ~5 s steady-state; the
    identical write through this literal shape costs ~0.2 s. On hot
    paths (per-batch state writes, codebook/pivot frames, bounded
    merge results) that difference dominates the whole operator.

    The struct array renders as ONE SQL string parsed by a single
    expr() — the per-value F.lit/F.struct Column build costs a py4j
    round trip per value (~4 s of driver time for a 500-row codebook
    frame rebuilt per lifecycle step); one parse is ~ms at identical
    analyzed plans. Values whose type has no safe text form fall back
    to the Column build (same tree, slower construction).

    *rows* must be bounded (state rows, pivots, codebooks — the
    bounded-driver contract); above 10k rows this falls back to
    createDataFrame, where per-row literal analysis would cost more
    than the Python roundtrip. None values are typed by the schema.
    bytearray/memoryview become bytes; tuples become array literals.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    st = (
        StructType.fromDDL(schema)
        if isinstance(schema, str)
        else schema
    )
    rows = list(rows)
    if not rows or len(rows) > 10_000:
        return spark.createDataFrame(rows, st)

    try:
        if _escaped_string_literals(spark):
            # legacy parser mode: backslash escapes parse literally —
            # the SQL render would silently corrupt strings, so take
            # the (slower, always-correct) Column build below
            raise _Unrenderable("escapedStringLiterals session")
        names = [_sql_str(f.name) for f in st.fields]
        structs = ", ".join(
            "named_struct({})".format(
                ", ".join(
                    "'{}', {}".format(n, _sql_lit(v, f.dataType))
                    for n, f, v in zip(names, st.fields, r)
                )
            )
            for r in rows
        )
        return (
            spark.range(1)
            .select(F.explode(F.expr(f"array({structs})")).alias("_r"))
            .select("_r.*")
        )
    except _Unrenderable:
        pass
    except Exception as e:  # pragma: no cover - defensive
        # a malformed render (e.g. an exotic field name the escaping
        # missed) must degrade to the Column build, never crash the
        # caller; anything the fallback ALSO rejects surfaces there
        if type(e).__name__ not in ("ParseException", "AnalysisException"):
            raise

    def _lit(v, dt):
        if v is None:
            return F.lit(None).cast(dt)
        if isinstance(v, (bytearray, memoryview)):
            v = bytes(v)
        elif isinstance(v, tuple):
            v = list(v)
        return F.lit(v).cast(dt)

    structs = [
        F.struct(
            *[
                _lit(v, f.dataType).alias(f.name)
                for f, v in zip(st.fields, r)
            ]
        )
        for r in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("_r"))
        .select("_r.*")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: the (large, skewed) *left* side gets a
    random salt in [0, salt); the (smaller) *right* side is replicated
    once per salt value, and the join key becomes (key, salt) — a hot
    key's rows spread across *salt* reducers instead of one.

    AQE's skew-join split handles moderate skew automatically; explicit
    salting is for extreme hot keys (power-law key distributions at
    100 TB) where a single key exceeds what one task can hold. Results
    are identical to a plain join (verified in tests).
    """
    from pyspark.sql import functions as F

    salted_left = left.withColumn(
        "__salt", (F.rand(seed=42) * salt).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__salt")
    salted_right = right.select("*", salts)
    out = salted_left.join(salted_right, [key, "__salt"], how)
    return out.drop("__salt")


def ensure_parallelism(df: DataFrame, factor: int = 1) -> DataFrame:
    """Repartition *df* up to the cluster's default parallelism if the
    scan produced fewer partitions.

    Small single-file tables arrive as one partition, which serializes
    every downstream explode/hash/UDF stage onto one core. At real
    scale (many files / row groups) the scan already has enough
    partitions and this is a no-op — the check is metadata-only.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def range_join(
    events: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 3600,
    extra_keys: list[str] | None = None,
    how: str = "inner",
    broadcast_intervals: bool = False,
) -> DataFrame:
    """Point-in-interval join (ts ∈ [start, end)) as a bucketed
    EQUI-join instead of the theta join Spark would otherwise plan.

    A naive ``events JOIN intervals ON ts BETWEEN start AND end`` has
    no equality predicate, so Catalyst falls back to
    BroadcastNestedLoopJoin — O(|events| × |intervals|) comparisons,
    unusable at 100 TB. Here each interval is exploded into the time
    buckets it overlaps (sequence + explode, JVM-side), events compute
    their single bucket, and the join runs as a hash join on
    (bucket [, extra_keys]) followed by the exact containment filter.
    Cost: |intervals| × avg_buckets_per_interval replication (pick
    ``bucket_seconds`` ≈ median interval length so that's ~2) and one
    shuffle per side — the same recipe range-join-optimized engines
    (DuckDB IEJoin, Databricks RANGE_JOIN hint) apply internally.

    ``how='left'`` keeps unmatched events with NULL interval columns.
    Zero/negative-length intervals are dropped (they contain no ts).
    ``broadcast_intervals=True`` pins a broadcast hash join up front
    (interval tables are usually tiny post-explode) instead of letting
    AQE discover that after materializing the first shuffle stage.
    """
    from pyspark.sql import functions as F

    keys = list(extra_keys or [])
    b = F.lit(int(bucket_seconds))
    ev = events.withColumn(
        "__ev_bucket", F.floor(F.unix_timestamp(F.col(ts_col)) / b)
    )
    iv = (
        # end is exclusive: the last owned bucket holds end - 1s.
        # Degenerate end <= start intervals are dropped BEFORE
        # sequence(), which would otherwise descend and mis-bucket.
        intervals.where(F.col(end_col) > F.col(start_col)).withColumn(
            "__iv_bucket",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp(F.col(start_col)) / b),
                    F.floor((F.unix_timestamp(F.col(end_col)) - 1) / b),
                )
            ),
        )
    )
    if broadcast_intervals:
        iv = F.broadcast(iv)
    cond = ev["__ev_bucket"] == iv["__iv_bucket"]
    for k in keys:
        cond = cond & (ev[k] == iv[k])
    contained = (ev[ts_col] >= iv[start_col]) & (ev[ts_col] < iv[end_col])
    if how == "inner":
        out = ev.join(iv, cond & contained, "inner")
    elif how == "left":
        out = ev.join(iv, cond & contained, "left")
    else:
        raise ValueError(f"range_join supports inner/left, got {how!r}")
    out = out.drop(ev["__ev_bucket"]).drop(iv["__iv_bucket"])
    for k in keys:
        out = out.drop(iv[k])
    return out


def in_filter_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    max_keys: int = 10_000,
) -> DataFrame:
    """Semi-join *fact* against *dim*'s key set by pushing the keys
    into the fact-side SCAN as an IN predicate — the manual form of
    Spark's runtime filtering / dynamic partition pruning, for when
    the dimension side is known-small after its own filters.

    Where a broadcast left-semi join still reads every fact row and
    filters post-scan, the collected IN list reaches the parquet
    reader as ``PushedFilters: In(key, ...)`` (plan-asserted in
    tests/test_round3_ops.py), so row groups whose min/max stats exclude
    the whole list are skipped WITHOUT being read — and on a
    partitioned-by-key layout, whole directories are pruned. At 100 TB
    that is the difference between scanning the fact table and
    scanning the few percent of it the dimension filter selects.

    The driver-side collect is bounded by contract: if the distinct
    key count exceeds *max_keys* the function falls back to a
    broadcast left-semi join (same result, scan-side pruning lost).
    Result is exactly the left-semi join of fact with dim.
    """
    from pyspark.sql import functions as F

    dim_key = dim_key or fact_key
    keys_df = dim.select(F.col(dim_key).alias("k")).distinct()
    keys = [r["k"] for r in keys_df.limit(max_keys + 1).collect()]
    if len(keys) > max_keys:
        return fact.join(
            F.broadcast(keys_df),
            fact[fact_key] == keys_df["k"],
            "left_semi",
        )
    return fact.where(in_values(fact_key, keys))

def mg_evict(mg: dict, cap: int) -> dict:
    """Misra-Gries eviction to *cap* counters as ONE quantile
    subtraction — equivalent to the textbook repeated min-decrement
    rounds (survivors lose the identical cumulative amount; drops are
    exactly the counters at or below it) but O(len) instead of
    O(len × rounds). Every unit subtracted is charged to > cap
    counters at once, so total undercount stays ≤ inserted mass /
    (cap + 1) — the MG guarantee."""
    import numpy as np

    if len(mg) <= cap:
        return mg
    k = len(mg) - cap - 1
    arr = np.fromiter(mg.values(), dtype=np.int64, count=len(mg))
    q = int(np.partition(arr, k)[k])
    return {it: v - q for it, v in mg.items() if v > q}


def mg_summaries(df: DataFrame, col: str, cap: int) -> DataFrame:
    """One capacity-bounded Misra-Gries counter per PARTITION
    (Arrow-batched; per batch the values pre-aggregate vectorized via
    value_counts, then fold into the counter): the corpus never
    shuffles — at most *cap* counter rows plus one (NULL item, n_p)
    total-count row leave each partition. Shared by the exact two-pass
    heavy_hitters and the incremental sketch state
    (operators/frequency_state.py)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    item_type = df.schema[col].dataType
    out_schema = StructType(
        [
            StructField("item", item_type),
            StructField("cnt", LongType()),
            StructField("n_p", LongType()),
        ]
    )

    def summarize(batches):
        mg: dict = {}
        n_p = 0
        for pdf in batches:
            vals = pdf[col].dropna()
            n_p += len(vals)
            for item, c in vals.value_counts().items():
                mg[item] = mg.get(item, 0) + int(c)
            mg = mg_evict(mg, cap)
        yield pd.DataFrame(
            {
                "item": list(mg.keys()) + [None],
                "cnt": list(mg.values()) + [0],
                "n_p": [0] * len(mg) + [n_p],
            }
        )

    return df.select(col).mapInPandas(summarize, out_schema)


def heavy_hitters(
    df: DataFrame,
    col: str,
    min_count: int | None = None,
    min_frac: float | None = None,
    capacity: int = 4096,
) -> DataFrame:
    """EXACT heavy hitters over an unaggregated column via the two-pass
    Misra-Gries pattern — the frequent-items member of the mergeable-
    sketch family (HLL/Theta/KLL elsewhere in the suite), with the
    classic candidate-then-recount construction that turns the sketch's
    approximation into an exact answer.

    Pass 1 summarizes each partition with a capacity-bounded
    Misra-Gries counter (one Arrow-batched pass; per batch the values
    pre-aggregate vectorized via value_counts, then fold into the
    counter with the standard all-decrement step). MG guarantees any
    item with partition-local count > n_p/(capacity+1) survives its
    partition; by pigeonhole, any item with GLOBAL count
    > n/(capacity+1) survives in at least one partition — so the union
    of partition summaries is a guaranteed superset of the true heavy
    hitters. Pass 2 exact-counts ONLY the candidates (broadcast hash
    semi-join at the scan, so misses are filtered before the shuffle)
    and keeps those at/above the threshold.

    Threshold: ``min_count`` absolute, or ``min_frac`` of the total row
    count (resolved after pass 1 — the summaries carry per-partition
    totals). The guarantee requires threshold > n/(capacity+1); a
    threshold below that is REFUSED (raise) rather than silently
    approximate — size ``capacity`` to ceil(n/threshold) instead.

    100 TB shape: pass 1 never shuffles the corpus (the summaries are
    ≤ capacity rows per partition); pass 2 shuffles only rows matching
    a candidate. Returns exact (item, cnt) with cnt >= threshold.
    """
    import math

    from pyspark.sql import functions as F

    if (min_count is None) == (min_frac is None):
        raise ValueError(
            "heavy_hitters: pass exactly one of min_count / min_frac"
        )
    cap = int(capacity)
    summaries = mg_summaries(df, col, cap).localCheckpoint()
    n = summaries.agg(F.sum("n_p")).first()[0] or 0
    threshold = (
        int(min_count)
        if min_count is not None
        else int(math.ceil(float(min_frac) * n))
    )
    if threshold * (cap + 1) <= n:
        raise ValueError(
            f"heavy_hitters: threshold {threshold} is not guaranteed at "
            f"capacity {cap} for n={n} — need threshold > n/(capacity+1); "
            f"use capacity >= {int(n // max(threshold, 1)) + 1}"
        )
    candidates = (
        summaries.where(F.col("item").isNotNull()).select("item").distinct()
    )
    return (
        df.join(
            F.broadcast(candidates),
            F.col(col).eqNullSafe(F.col("item")),
            "left_semi",
        )
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= threshold)
        .select(F.col(col).alias("item"), "cnt")
    )

def weighted_sample(
    df: DataFrame,
    weight_col: str,
    n: int,
    hash_col: str,
) -> DataFrame:
    """Deterministic weight-proportional sampling WITHOUT replacement
    (Efraimidis–Spirakis exponential race): each row draws a uniform
    u ∈ (0,1] from a CONTENT hash of *hash_col* (md5, like the
    deterministic-split sampler q67 — identical across engines, runs,
    and partitionings, unlike rand()), scores key = u^(1/w), and the
    top-*n* keys win. E-S gives every row inclusion probability
    proportional to its weight under without-replacement semantics —
    the standard one-pass distributed weighted sampler (each partition
    can pre-select its local top-n; only candidates reach the final
    top-k, which Spark's TakeOrderedAndProject does for free).

    Rows with weight <= 0 or NULL are excluded (they can never win a
    proportional race). Returns the winning rows with all columns.
    """
    from pyspark.sql import functions as F

    u = (
        F.conv(
            F.substring(F.md5(F.col(hash_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967296.0)
    key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__es_key", key)
        .orderBy(F.col("__es_key").desc(), F.col(hash_col).asc())
        .limit(int(n))
        .drop("__es_key")
    )


def stratified_weighted_sample(
    df: DataFrame,
    strata_col: str,
    weight_col: str,
    n_per_stratum: int,
    hash_col: str,
) -> DataFrame:
    """Per-stratum deterministic weighted sampling — the corpus-mixture
    primitive (sample k docs per source/language/domain, proportional
    to a quality or length weight): the Efraimidis-Spirakis race of
    :func:`weighted_sample` run under a PARTITION BY *strata_col*
    window, so every stratum draws its own without-replacement
    weighted top-n in one pass. Same determinism contract (md5-derived
    uniforms); rows with weight <= 0 or NULL excluded."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    u = (
        F.conv(
            F.substring(F.md5(F.col(hash_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967296.0)
    key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    w = Window.partitionBy(strata_col).orderBy(
        key.desc(), F.col(hash_col).asc()
    )
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__es_rn", F.row_number().over(w))
        .where(F.col("__es_rn") <= int(n_per_stratum))
        .drop("__es_rn")
    )


def parquet_fs(path: str):
    """``(pyarrow FileSystem, normalized path)`` for a driver-side
    artifact read: bare paths resolve to the local filesystem, URIs
    (``s3://…``, ``gs://…``, ``hdfs://…``, ``file://…``) through
    ``pyarrow.fs.FileSystem.from_uri`` — so the footer/sidecar fast
    paths work unchanged where the store lives on object storage
    (VERDICT r12 #4; ``glob``/``os.walk`` return nothing there and the
    optimization would evaporate exactly where it matters most)."""
    from pyarrow import fs as _pafs

    p = str(path)
    if "://" in p:
        return _pafs.FileSystem.from_uri(p)
    return _pafs.LocalFileSystem(), p


def list_fileinfos(path: str, recursive: bool = False):
    """``(fs, [FileInfo…])`` of *path*'s children via pyarrow.fs —
    the object-store-capable replacement for ``glob``/``os.walk`` in
    the driver-side artifact readers. Missing directories yield an
    empty list (glob semantics)."""
    from pyarrow import fs as _pafs

    fs, p = parquet_fs(path)
    sel = _pafs.FileSelector(
        p, recursive=recursive, allow_not_found=True
    )
    try:
        return fs, list(fs.get_file_info(sel))
    except (FileNotFoundError, NotADirectoryError, OSError):
        return fs, []


def read_sidecar_table(path_dir: str):
    """All rows of a SMALL parquet sidecar directory (pivots,
    codebooks, cursors — the bounded frozen artifacts of a persisted
    index) as one pyarrow Table, read DRIVER-SIDE: no Spark job, no
    directory-tree listing beyond one listing call. A
    ``spark.read.parquet`` + ``collect`` of the same sidecar costs two
    jobs (schema inference + collect) — ~0.2-0.4 s of fixed overhead
    PER CALL on an idle local session, and strictly more on a busy
    cluster; these artifacts are re-read on every append/probe, so the
    fixed cost multiplies across an index lifecycle. Parquet bytes
    decode to the identical IEEE-754 values either way (both readers
    surface the stored float32/float64 bits), so literal plans built
    from the result are bit-identical to the collect() form. Returns
    None when the directory has no data files. Paths may be local or
    any pyarrow.fs URI (s3/gs/hdfs/file)."""
    import pyarrow.parquet as _pq

    fs, infos = list_fileinfos(path_dir)
    hits = sorted(
        i.path
        for i in infos
        if i.is_file and i.base_name.endswith(".parquet")
    )
    if not hits:
        return None
    import pyarrow as _pa

    return _pa.concat_tables(
        [_pq.read_table(h, filesystem=fs) for h in hits]
    )


def write_sidecar_table(path_dir: str, table) -> None:
    """Persist a SMALL parquet sidecar (pivots, codebooks, meta — the
    bounded frozen artifacts of a persisted index) DRIVER-SIDE via
    pyarrow: the ``df.write.parquet`` job each of these replaced moved
    a few hundred bytes through a full Spark scheduler round trip +
    commit protocol (~0.2-0.4 s per write on an idle local session),
    and an index-build lifecycle pays several of them back to back.
    Layout-identical to the Spark write: one data file, ``_SUCCESS``
    written LAST, overwrite semantics (clear, data, then marker) — so
    ``spark.read.parquet`` and :func:`read_sidecar_table` both read it
    unchanged. Paths may be local or any pyarrow.fs URI."""
    import pyarrow.parquet as _pq

    fs, p = parquet_fs(path_dir)
    try:
        fs.delete_dir(p)
    except (FileNotFoundError, OSError):
        pass
    fs.create_dir(p, recursive=True)
    with fs.open_output_stream(p + "/part-00000.parquet") as f:
        _pq.write_table(table, f)
    with fs.open_output_stream(p + "/_SUCCESS"):
        pass


def write_pivot_rows(path_dir: str, pivot_rows) -> None:
    """Persist ``[(list_id, vec)]`` pivot rows as the ``_pivots``
    sidecar (``list_id bigint, pivot array<double>`` — the
    literal_frame schema the rebalance rewrites always used), sorted
    by id for deterministic file bytes. Values are the exact doubles
    the caller collected, so a :func:`load_pivot_rows` round trip is
    bit-identical to the Spark-write form it replaces."""
    import pyarrow as _pa

    rows = sorted(pivot_rows)
    write_sidecar_table(
        path_dir,
        _pa.table(
            {
                "list_id": _pa.array(
                    [int(i) for i, _ in rows], _pa.int64()
                ),
                "pivot": _pa.array(
                    [[float(x) for x in v] for _, v in rows],
                    _pa.list_(_pa.float64()),
                ),
            }
        ),
    )


def load_pivot_rows(path_dir: str) -> list[tuple[int, list[float]]]:
    """The persisted ``_pivots`` sidecar as the ``[(list_id, vec)]``
    literal form every probe/append kernel consumes, ordered by id —
    ``collect_pivot_rows`` semantics without the Spark job (see
    read_sidecar_table). Raises if the sidecar is missing: a pivot
    sidecar is never legitimately absent from a built index."""
    tbl = read_sidecar_table(path_dir)
    if tbl is None:
        raise ValueError(
            f"load_pivot_rows: no pivot data files under {path_dir}"
        )
    d = tbl.to_pydict()
    idc = "list_id" if "list_id" in d else next(iter(d))
    vecc = "pivot" if "pivot" in d else [k for k in d if k != idc][0]
    rows = [
        (int(i), [float(x) for x in v]) for i, v in zip(d[idc], d[vecc])
    ]
    rows.sort(key=lambda r: r[0])
    return rows


def parquet_schema_names(path: str):
    """Column names of the first data file of *path* (see
    :func:`parquet_data_files`; the file :func:`footer_spark_schema`
    reads), from its footer driver-side. Partition columns live in
    directory names, never in the footer. Returns None when *path*
    has no data file. Paths may be local or any pyarrow.fs URI."""
    import pyarrow.parquet as _pq

    fs, infos = parquet_data_files(path)
    if not infos:
        return None
    with fs.open_input_file(min(i.path for i in infos)) as f:
        return list(_pq.ParquetFile(f).schema_arrow.names)


def parquet_data_files(path: str):
    """``(fs, [FileInfo…])`` of the parquet data files Spark reads for
    *path*: a single ``.parquet`` file is its own data file; under a
    directory, every ``*.parquet`` at any depth except where a path
    segment below *path* starts with ``_`` or ``.`` (Spark's
    visibility rule: ``_SUCCESS``, ``_pivots``, ``.crc`` and staging
    dirs never count). Paths may be local or any pyarrow.fs URI."""
    fs, p = parquet_fs(path)
    try:
        own = fs.get_file_info(p)
    except OSError:
        return fs, []
    if own.is_file:
        return fs, [own] if own.base_name.endswith(".parquet") else []
    fs, infos = list_fileinfos(path, recursive=True)
    base_len = len(str(path).rstrip("/").split("://")[-1].split("/"))
    return fs, [
        i
        for i in infos
        if i.is_file
        and i.base_name.endswith(".parquet")
        and not any(
            seg.startswith(("_", "."))
            for seg in i.path.rstrip("/").split("/")[base_len:]
        )
    ]


def footer_spark_schema(*paths: str, spark=None):
    """Spark schema of a parquet table or STATE directory, derived
    DRIVER-SIDE from the first data file's footer (see
    :func:`arrow_spark_schema`) — the schema ``spark.read.parquet``
    would infer, without the per-call inference job a bare read
    schedules (one job at zero information gain on every state
    fold/probe; the packing read-back measured it at ~0.1-0.2 s per
    call locally and strictly more on a busy cluster). Returns None
    (callers fall back to the inferring read) when no data file exists
    or the conversion is not exact. Searches *paths* in order; the
    first data file wins (state stores are schema-uniform by
    construction)."""
    import pyarrow.parquet as _pq

    for path in paths:
        fs, infos = parquet_data_files(path)
        if not infos:
            continue
        with fs.open_input_file(min(i.path for i in infos)) as f:
            return arrow_spark_schema(_pq.ParquetFile(f).schema_arrow, spark)
    return None


def arrow_spark_schema(arrow_schema, spark=None):
    """The Spark schema ``spark.read.parquet`` infers for a file whose
    footer holds *arrow_schema* (pyarrow ``schema_arrow``), or None.
    The footer's ``org.apache.spark.sql.parquet.row.metadata`` key is
    read first, as Spark's own inference reads it first: a file Spark
    wrote resolves exactly, whatever its types. Other files go through
    ``from_arrow_schema``, exact for strings, integers, doubles,
    booleans, arrays, dates and decimals; None when a type's inference
    follows session conf the conversion cannot honor: binary
    (binaryAsString), nanosecond timestamps (nanosAsLong; INT96 also
    surfaces as nanos), unsigned ints. Micro/milli timestamps resolve
    exactly — tz-aware maps to TimestampType unconditionally, tz-naive
    follows the session's inferTimestampNTZ conf — but only when
    *spark* is passed (the conf must be read)."""
    import json

    from pyspark.sql.types import StructType

    meta = arrow_schema.metadata or {}
    try:
        return StructType.fromJson(
            json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"])
        )
    except (KeyError, ValueError, TypeError):
        pass  # none, or unreadable: Spark falls back to the file schema
    try:
        from pyspark.sql.pandas.types import from_arrow_schema
    except ImportError:  # pragma: no cover - very old pyspark
        return None
    import pyarrow as _pa

    def _arrow_risky(t) -> bool:
        if _pa.types.is_struct(t):
            return any(_arrow_risky(f.type) for f in t)
        if _pa.types.is_list(t) or _pa.types.is_large_list(t):
            return _arrow_risky(t.value_type)
        if _pa.types.is_map(t):
            return _arrow_risky(t.key_type) or _arrow_risky(t.item_type)
        if _pa.types.is_timestamp(t):
            return spark is None or t.unit not in ("us", "ms")
        return (
            _pa.types.is_binary(t)
            or _pa.types.is_large_binary(t)
            or _pa.types.is_fixed_size_binary(t)
            or _pa.types.is_null(t)
            or _pa.types.is_unsigned_integer(t)
            or _pa.types.is_time(t)
            or _pa.types.is_duration(t)
        )

    if any(_arrow_risky(f.type) for f in arrow_schema):
        return None
    prefer_ntz = False
    if spark is not None:
        prefer_ntz = (
            str(
                spark.conf.get(
                    "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
                )
            ).lower()
            == "true"
        )
    try:
        return from_arrow_schema(arrow_schema, prefer_timestamp_ntz=prefer_ntz)
    except Exception:
        return None


def read_parquet_state(spark, *paths: str):
    """``spark.read.parquet(*paths)`` with the schema pre-resolved
    driver-side (:func:`footer_spark_schema`) so the read schedules
    ZERO jobs until an action needs data — the bare form pays a
    footer-inference job per call, and the state-backed operators
    re-read their stores on every micro-batch fold. The footer's Spark
    row-metadata key is read first, so every dir Spark wrote resolves.
    Falls back to the inferring read when the schema cannot be derived
    (empty dirs; see :func:`arrow_spark_schema` for other writers' files).
    Read semantics are otherwise identical: file-source reads force
    nullability themselves, so downstream schemas match the inferring
    form."""
    schema = footer_spark_schema(*paths, spark=spark)
    if schema is None:
        return spark.read.parquet(*paths)
    return spark.read.schema(schema).parquet(*paths)


def parquet_partition_counts(path: str, key: str) -> dict[int, int]:
    """Per-partition row counts of a ``key=value``-partitioned parquet
    table from the file FOOTERS, read driver-side — exactly what
    ``spark.read.parquet(path).groupBy(key).count()`` returns once the
    writes are complete, without the listing + full-scan job (the
    rebalance hot-list probe paid that scan on EVERY pass, including
    the terminal pass that finds nothing hot). Spark's visibility rule
    applies (``_``/``.`` entries are invisible); files outside any
    ``key=`` directory are ignored. Paths may be local or any
    pyarrow.fs URI."""
    import pyarrow.parquet as _pq

    fs, infos = parquet_data_files(path)
    base_len = len(str(path).rstrip("/").split("://")[-1].split("/"))
    out: dict[int, int] = {}
    prefix = f"{key}="
    for i in infos:
        rel_dirs = i.path.rstrip("/").split("/")[base_len:-1]
        vals = [p for p in rel_dirs if p.startswith(prefix)]
        if not vals:
            continue
        k = int(vals[0][len(prefix):])
        with fs.open_input_file(i.path) as f:
            out[k] = out.get(k, 0) + _pq.ParquetFile(f).metadata.num_rows
    return out


def count_parquet_rows(path: str) -> int:
    """Row count of a parquet table directory from the file FOOTERS,
    read driver-side — the count ``spark.read.parquet(path).count()``
    would return, without the listing + scan job. Mirrors Spark's
    visibility rule: files and directories whose name starts with
    ``_`` or ``.`` are invisible (sidecars like ``_pivots`` never
    count). Paths may be local or any pyarrow.fs URI."""
    import pyarrow.parquet as _pq

    fs, infos = parquet_data_files(path)
    total = 0
    for i in infos:
        with fs.open_input_file(i.path) as f:
            total += _pq.ParquetFile(f).metadata.num_rows
    return total
