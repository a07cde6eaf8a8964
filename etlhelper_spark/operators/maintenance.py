"""Table-maintenance operators: small-file compaction and
clustered (Z-order) rewrites for scan-pruning locality.

At 100 TB the dominant failure modes of a parquet lake are (a) millions
of tiny files — every one a driver-side listing entry, an open, a
footer parse — and (b) files whose min/max column stats span the whole
domain, so predicate-based file skipping prunes nothing.  These
operators are the scheduled-job answer: rewrite a table into
right-sized files (compact_parquet_table) and/or lay rows out along a
space-filling curve (clustered_rewrite) so multi-column range
predicates touch few files.  Both, and merge_into_parquet, replace
the table through :func:`replace_table`: the new contents are staged
in a sibling directory ``<target>.__<op>_<hex>`` and swapped in by two
renames through pyarrow.fs — readers never see a half-rewritten
table.

Reference parity: the reference's copy_table_rows replaces the target
table wholesale (etlhelper/etl.py); these are that contract applied to
table layout instead of table contents.
"""

from __future__ import annotations

import math
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..abort import raise_for_abort
from ..exceptions import ETLHelperAtomicSwapError
from ..functions.util import count_parquet_rows, parquet_fs, parquet_scan_files
from ..state.store import remove

__all__ = [
    "compact_parquet_table",
    "clustered_rewrite",
    "morton_code",
    "replace_table",
]

_DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # matches maxPartitionBytes

#: pyarrow filesystems whose ``move`` of a directory is one rename
_ATOMIC_RENAME_FS = ("local", "hdfs")


def replace_table(df: DataFrame, target_path: str, op: str) -> int:
    """Replace the parquet table at *target_path* with *df*,
    copy-on-write; returns the new row count (footer sum, no scan job).

    *df* is written to the sibling staging directory
    ``<target>.__<op>_<hex>`` and swapped in by two moves through
    pyarrow.fs (target to ``<target>.__pre_<op>_<hex>``, staging to
    target), so readers see the old table or the new one, never a mix.
    Staging is a sibling so the move never crosses filesystems. If the
    swap fails the target is left as it was and the staging directory
    is removed.

    The moves are renames only on local and HDFS filesystems (bare
    paths, ``file://``, ``hdfs://``). Object stores move a directory by
    copy-then-delete, which readers can observe half done, so there
    the swap raises :class:`~etlhelper_spark.exceptions.ETLHelperAtomicSwapError`
    before anything is written: such a table needs a manifest/table
    format (what Delta/Iceberg do with metadata pointers) instead."""
    fs, target = parquet_fs(target_path)
    if fs.type_name not in _ATOMIC_RENAME_FS:
        raise ETLHelperAtomicSwapError(
            f"Cannot swap the table at {target_path}: {fs.type_name} "
            "filesystems have no atomic directory rename"
        )

    def sibling(kind: str) -> str:
        return target_path.rstrip("/") + f".__{kind}_{uuid.uuid4().hex[:8]}"

    staging = sibling(op)
    backup = sibling(f"pre_{op}")
    try:
        df.write.mode("overwrite").parquet(staging)
        # the write just committed: the footers ARE the table
        rows = count_parquet_rows(staging)
        fs.move(target, parquet_fs(backup)[1])
        try:
            fs.move(parquet_fs(staging)[1], target)
        except OSError:
            fs.move(parquet_fs(backup)[1], target)  # roll back
            raise
    except BaseException:
        remove(staging)
        raise
    remove(backup)
    return rows


def _spark_visible(path: str) -> tuple[int, int]:
    """(data files, bytes) of the table as Spark's scan reads it."""
    _fs, files = parquet_scan_files(path)
    return len(files), sum(i.size for i, _parts in files)


def compact_parquet_table(
    spark: SparkSession,
    target_path: str,
    target_file_bytes: int = _DEFAULT_TARGET_BYTES,
    sort_within_by: list[str] | None = None,
) -> dict:
    """Rewrite the parquet table at ``target_path`` into
    ``ceil(table_bytes / target_file_bytes)`` files (>=1), atomically.

    File count is derived from the CURRENT on-disk size, so the
    rewrite is one coalesce-free ``repartition`` — an all-to-all
    exchange sized exactly once, not a driver guess.  Optional
    ``sort_within_by`` sorts rows inside each output file (no extra
    shuffle) so per-file min/max stats tighten for single-column
    predicates.  Returns {files_before, files_after, bytes, rows}; file
    and byte counts cover only the data files Spark's scan reads
    (never ``_``/``.`` entries such as a stray ``_temporary``, nor a
    file outside every ``key=value`` dir of a partitioned table; see
    :func:`~etlhelper_spark.functions.util.parquet_scan_files`). The
    new layout is staged in a sibling directory of the table (see
    :func:`replace_table`).
    """
    from ..sources import read_parquet_table

    raise_for_abort()
    files_before, table_bytes = _spark_visible(target_path)
    n_files = max(1, math.ceil(table_bytes / max(target_file_bytes, 1)))

    df = read_parquet_table(spark, target_path)
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    rows = replace_table(out, target_path, "compact")
    return {
        "files_before": files_before,
        "files_after": _spark_visible(target_path)[0],
        "bytes": table_bytes,
        "rows": rows,
    }


def morton_code(cols: list[Column], bounds: list[tuple], bits: int = 16) -> Column:
    """Z-order (Morton) key: quantize each column to ``bits`` buckets
    over its [min, max] ``bounds`` and interleave the bits.

    Pure JVM bit arithmetic (shiftleft/shiftright/AND inside
    whole-stage codegen) — no UDF.  Interleaving means sorting by the
    key clusters rows that are close in EVERY dimension, so a file
    covers a small hyper-rectangle of the key space and multi-column
    range predicates skip most files — the Delta/Iceberg OPTIMIZE
    ZORDER layout, built from first principles.
    """
    if len(cols) != len(bounds):
        raise ValueError("cols and bounds must align")
    quantized = []
    for col, (lo, hi) in zip(cols, bounds):
        span = max(float(hi) - float(lo), 1e-12)
        q = F.floor(
            (col.cast("double") - F.lit(float(lo)))
            / F.lit(span)
            * F.lit((1 << bits) - 1e-9)
        ).cast("bigint")
        q = F.greatest(F.lit(0), F.least(q, F.lit((1 << bits) - 1)))
        quantized.append(q)
    ndim = len(quantized)
    code = F.lit(0).cast("bigint")
    for b in range(bits):
        for d, q in enumerate(quantized):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            code = code + F.shiftleft(bit, b * ndim + d)
    return code


def clustered_rewrite(
    spark: SparkSession,
    target_path: str,
    cluster_cols: list[str],
    target_file_bytes: int = _DEFAULT_TARGET_BYTES,
    bits: int = 16,
) -> dict:
    """Rewrite a parquet table Z-ordered on ``cluster_cols`` so
    multi-column predicates prune files via min/max stats.

    Column bounds come from one tiny min/max aggregate (a scan of
    footer stats in practice), then rows are range-partitioned AND
    sorted by the morton key — range partitioning makes FILES own
    contiguous key ranges (disjoint hyper-rectangles), the in-file
    sort tightens row-group stats.  One shuffle total, same cost
    class as the compaction it replaces.  Returns
    {files, rows, bounds}. The new layout is staged in a sibling
    directory of the table (see :func:`replace_table`).
    """
    from ..sources import read_parquet_table

    raise_for_abort()
    df = read_parquet_table(spark, target_path)
    aggs = []
    for c in cluster_cols:
        aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
    row = df.agg(*aggs).first()
    bounds = [
        (row[f"lo_{c}"], row[f"hi_{c}"]) for c in cluster_cols
    ]

    table_bytes = _spark_visible(target_path)[1]
    n_files = max(1, math.ceil(table_bytes / max(target_file_bytes, 1)))

    key = morton_code([F.col(c) for c in cluster_cols], bounds, bits)
    out = (
        df.withColumn("__zkey", key)
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    rows = replace_table(out, target_path, "zorder")
    return {
        "files": _spark_visible(target_path)[0],
        "rows": rows,
        "bounds": bounds,
    }
