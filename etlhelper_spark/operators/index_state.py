"""Incremental inverted-index maintenance: search-index state that
absorbs document batches without re-tokenizing the accumulated corpus.

The batch operator (plans q160/q168) recomputes token statistics and
postings from scratch; a production search/retrieval index ingests new
documents into persisted state. Two stores under ``state_dir``,
following the repo's state conventions (operators/dedup_state.py,
operators/ivm.py):

- ``postings/batch=<id>``: (token, doc_id, n) per-batch postings —
  APPEND-ONLY (a document's postings never change; each doc belongs to
  exactly one batch), replay-idempotent by per-batch-dir overwrite.
- ``stats/v<id>``: (token, n, cf) — document frequency (``n``, the
  merge_rollup count column) and collection frequency per token,
  FULL-VERSIONED: each batch's partial merges into the prior version
  through the same mergeable-partial algebra as every IVM rollup
  (operators/ivm.py::merge_rollup). The state is |vocabulary| rows.

Per-batch cost: one tokenize+aggregate scan of the batch, a
|vocabulary|-sized merge join, an O(batch postings) append — the
accumulated postings are never re-read on ingest. Reads that need
postings (read_index_top) scan the postings store, which is the index
itself; ``compact`` folds postings appends via
dedup_state.compact_dedup_state-style relayout if dir counts grow.

Correctness contract (q185): because every document lives in exactly
one batch, df/cf partials merge exactly, and the read after N
sequential applies EQUALS the batch recompute over the full corpus —
q160's oracle, unchanged.

Reference parity note: no analogue in the reference (a DB-API cursor
wrapper); the nearest shape is its chunked append loop
(etlhelper/etl.py:233-339), here with the index statistics maintained
as first-class mergeable state instead of recomputed downstream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.util import read_parquet_state
from ..state.store import (
    append_path,
    commit_version,
    read_latest,
    read_prior,
)


def inverted_index_incremental(
    new_docs: DataFrame,
    state_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    state_partitions: int = 1,
) -> DataFrame:
    """Ingest a document batch into the persisted inverted index:
    merge its (df, cf) partial into the stats state, then append its
    postings. Returns the new stats state."""
    from ..functions.text import tokens_table
    from .ivm import merge_rollup

    spark = new_docs.sparkSession
    postings_dir = os.path.join(state_dir, "postings")
    stats_dir = os.path.join(state_dir, "stats")

    tok = tokens_table(
        new_docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        "doc_id",
        text_col,
    )
    per_doc = (
        tok.groupBy("token", "doc_id")
        .agg(F.count("*").alias("n"))
        # computed once at the first action (stats commit), reused by
        # the postings append — eager paid a separate job per batch
        .localCheckpoint(eager=False)
    )
    partial = per_doc.groupBy("token").agg(
        F.count("*").alias("n"), F.sum("n").alias("cf")
    )
    prior = read_latest(spark, stats_dir, batch_id)
    merged = (
        merge_rollup(prior, partial, ["token"])
        if prior is not None
        else partial
    )
    # the stats commit goes first: its replay guard rejects an
    # out-of-order id before the batch's postings land
    out = commit_version(
        merged.repartition(state_partitions), stats_dir, batch_id
    )
    per_doc.withColumn("batch", F.lit(int(batch_id))).repartition(
        state_partitions
    ).write.mode("overwrite").parquet(
        append_path(postings_dir, batch_id)
    )
    return read_parquet_state(spark, out)


def read_index_top(
    spark,
    state_dir: str,
    k: int = 50,
    postings_cap: int = 20,
) -> DataFrame:
    """Top-*k* tokens by document frequency with their first
    *postings_cap* postings — q160's read shape served FROM STATE: the
    stats state alone ranks the tokens (|vocabulary| rows, no corpus
    access), and only the winners' postings are fetched from the
    postings store via a broadcastable semi-join."""
    stats_dir = os.path.join(state_dir, "stats")
    postings_dir = os.path.join(state_dir, "postings")
    stats = read_latest(spark, stats_dir, 2**62)
    if stats is None:
        raise ValueError("read_index_top: empty index state")
    top = (
        stats.orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
        .select("token", F.col("n").alias("df"), "cf")
    )
    # read_prior unions the compacted base (if any) with the live
    # appends — compact_dedup_state(store="postings") stays readable
    all_postings = read_prior(spark, postings_dir, 2**62)
    if all_postings is None:
        raise ValueError("read_index_top: empty postings store")
    postings = (
        all_postings
        .join(F.broadcast(top.select("token")), "token")
        .groupBy("token")
        .agg(
            F.slice(
                F.array_sort(F.collect_list("doc_id")), 1, postings_cap
            ).alias("postings")
        )
    )
    return (
        top.join(postings, "token")
        .select("token", "df", "cf", "postings")
        .orderBy(F.desc("df"), F.asc("token"))
    )
