"""Set-based MERGE (Delta-style upsert) as a pure DataFrame operator.

The reference exposes row-at-a-time upserts only through custom SQL in
``executemany`` (reference: etlhelper/etl.py executemany docs — "INSERT
OR UPDATE" recipes); warehouses express the same intent as one MERGE
statement. This module provides that statement-level semantics
Spark-first:

    MERGE INTO target USING source ON <keys>
      WHEN MATCHED [AND <cond>] THEN DELETE
      WHEN MATCHED THEN UPDATE SET <assignments>
      WHEN NOT MATCHED THEN INSERT <assignments>

implemented as ONE full-outer shuffle join on the merge keys plus a
projection — no per-row Python, no driver loop. At 100 TB both sides
hash-partition on the key once; if the source (the typical CDC batch)
is small it broadcasts instead and the target never shuffles (AQE
picks this automatically; pass ``broadcast_source=True`` to force).

Expressions are SQL strings over two row aliases: ``t.<col>`` (target)
and ``s.<col>`` (source) — the same surface MERGE gives you.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..abort import raise_for_abort

__all__ = ["merge_dataframes", "merge_into_parquet"]

_T_MARK = "__ehs_t_present"
_S_MARK = "__ehs_s_present"


def merge_dataframes(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    *,
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: str | None = None,
    when_not_matched_insert: bool | dict[str, str] = True,
    broadcast_source: bool = False,
) -> DataFrame:
    """Return the post-MERGE state of ``target`` as a lazy DataFrame.

    - ``keys``: equi-join merge keys (must exist on both sides).
    - ``when_matched_update``: {target_col: sql_expr} using ``t.``/``s.``
      row aliases; unlisted columns keep their target values.
    - ``when_matched_delete``: SQL predicate (``t.``/``s.``); matched
      rows satisfying it are removed (evaluated before update, as in
      ``WHEN MATCHED AND cond THEN DELETE`` ordered first).
    - ``when_not_matched_insert``: True inserts source values for
      same-named columns (NULL elsewhere); a dict gives explicit
      {target_col: sql_expr over ``s.``}; False drops unmatched source
      rows.

    Output schema == target schema (names, order, types).
    """
    raise_for_abort()
    if not keys:
        raise ValueError("merge requires at least one key column")
    for k in keys:
        if k not in target.columns or k not in source.columns:
            raise ValueError(f"merge key {k!r} missing from target or source")

    t = target.withColumn(_T_MARK, F.lit(True)).alias("t")
    s_df = source.withColumn(_S_MARK, F.lit(True))
    s = (F.broadcast(s_df) if broadcast_source else s_df).alias("s")

    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
    )
    joined = t.join(s, cond, "full_outer")

    matched = F.col(f"t.{_T_MARK}").isNotNull() & F.col(f"s.{_S_MARK}").isNotNull()
    t_only = F.col(f"s.{_S_MARK}").isNull()
    updates = when_matched_update or {}

    # Row-level filter: deletes drop matched rows; unmatched source
    # rows survive only when inserting.
    keep = F.lit(True)
    if when_matched_delete is not None:
        # SQL MERGE treats a NULL 'WHEN MATCHED AND cond' as NOT
        # satisfied (row falls through to the update branch); without
        # the coalesce, TRUE & ~(TRUE & NULL) = NULL and where() would
        # silently drop the row
        keep = keep & ~(
            matched
            & F.coalesce(F.expr(when_matched_delete), F.lit(False))
        )
    if when_not_matched_insert is False:
        keep = keep & (F.col(f"t.{_T_MARK}").isNotNull())
    filtered = joined.where(keep)

    target_types = dict(target.dtypes)
    out_cols = []
    for c in target.columns:
        t_val = F.col(f"t.{c}")
        upd = F.expr(updates[c]) if c in updates else t_val
        if isinstance(when_not_matched_insert, dict):
            ins = (
                F.expr(when_not_matched_insert[c])
                if c in when_not_matched_insert
                else F.lit(None)
            )
        elif when_not_matched_insert and c in source.columns:
            ins = F.col(f"s.{c}")
        else:
            ins = F.lit(None)
        val = (
            F.when(matched, upd)
            .when(t_only, t_val)
            .otherwise(ins)
            .cast(target_types[c])
            .alias(c)
        )
        out_cols.append(val)
    return filtered.select(*out_cols)


def merge_into_parquet(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    **merge_kwargs,
) -> int:
    """MERGE ``source`` into the parquet table at ``target_path`` with
    copy-on-write atomicity; returns the post-merge row count.

    Writes the merged state to the sibling staging directory
    ``<target>.__merge_<hex>``, then swaps directories driver-side
    (operators/maintenance.py ``replace_table``) — readers never
    observe a half-written table, and a failed swap leaves the target
    as it was. The swap is two renames on local/HDFS-style
    filesystems; on object stores use a manifest/table format instead
    — this mirrors what Delta/Iceberg do with metadata pointers
    (reference parity: copy_table_rows' target-replace contract,
    etlhelper/etl.py).
    """
    from ..sources import read_parquet_table
    from .maintenance import replace_table

    raise_for_abort()
    target = read_parquet_table(spark, target_path)
    merged = merge_dataframes(target, source, keys, **merge_kwargs)
    return replace_table(merged, target_path, "merge")
