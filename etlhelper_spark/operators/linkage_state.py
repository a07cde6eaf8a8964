"""Persisted record-linkage index — the SymSpell deletion-variant
index as incremental state, so a dirty feed links against a master
list WITHOUT recomputing the master's variant neighbourhood per batch.

Why state: functions/dedup.py::edit_distance_join recomputes both
sides' deletion variants on every call. In production the master list
is large, slowly-growing, and reused across thousands of link calls —
its variants are a classic build-once artifact. This module persists
them as an append-only parquet store (one ``batch=<id>`` dir per
master batch, the dedup_state versioned-ingest convention), and
``link_batch`` explodes ONLY the incoming feed.

Replay contract (at-least-once safe): a redelivered master batch
overwrites its own ``batch=<id>`` dir — same rows, same place,
idempotent. The ``max_dist`` the index was built for rides as a
column on every row (the bloom store's m/k pattern); appending or
linking with a different distance raises instead of silently mixing
neighbourhood radii.

At 100 TB: variants are 1+L+L(L-1)/2 rows per master name (d=2), all
expression-generated (codegen, no Python). The link join is an
equi-join on the full-entropy variant string — shuffle keys stay
well-distributed even when every master shares a long stem (measured
in SCALE_PROBE.md against 1M same-stem names). Reference parity note:
the reference (a DB-API cursor wrapper) has no linkage machinery;
this extends the suite's incremental-state family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dedup import _deletion_variants
from ..state.store import append_path, live_sources

__all__ = [
    "append_linkage_masters",
    "forget_from_linkage_state",
    "link_batch",
    "read_linkage_state",
    "streaming_link",
]


def _variants_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "variants")


def _phonetic_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "phonetic")


def _sources(state_dir: str) -> list[str]:
    """All complete store pieces: the newest marker-checked erased/
    compacted base (if any) plus every batch append. During the
    crash window between an erase's marker write and its cleanup of
    the folded batch dirs, rows appear TWICE — harmless here by
    construction, because link_batch dedups candidate pairs before
    verification and erase counts distinct ids (the reason this store
    can use the simple resolution rather than dedup_state's carried-
    batch filtering)."""
    return live_sources(_variants_dir(state_dir))


def _existing_dist(spark, state_dir: str) -> int | None:
    """max_dist the persisted index was built with, or None if empty.
    Reads ONE row from one store piece — append_linkage_masters
    enforces per-store consistency at write time, so any piece's d is
    THE store's d; a full-store distinct here would make every append
    and link O(state) just to read a parameter."""
    import pyarrow.parquet as _pq

    from ..functions.util import list_fileinfos

    for p in _sources(state_dir):
        # driver-side pyarrow read of ONE value — the spark.read +
        # first() form paid a listing + scan job per append/link call
        # just to fetch a parameter; object-store-ready (pyarrow.fs)
        fs, infos = list_fileinfos(p)
        for fp in sorted(
            i.path
            for i in infos
            if i.is_file and i.base_name.endswith(".parquet")
        ):
            with fs.open_input_file(fp) as f:
                pf = _pq.ParquetFile(f)
                if pf.metadata.num_rows:
                    return int(
                        pf.read_row_group(0, columns=["d"])["d"][0].as_py()
                    )
    return None


def append_linkage_masters(
    master_df: DataFrame,
    state_dir: str,
    batch_id: int,
    max_dist: int = 1,
    id_col: str = "id",
    str_col: str = "s",
    phonetic: bool = False,
) -> str:
    """Fold a master batch into the persisted variant index; returns
    the batch dir written. Idempotent under replay (the batch
    overwrites its own dir). Raises if the store was built with a
    different *max_dist* — neighbourhood radii must not mix.

    With *phonetic=True* the batch ALSO lands in a ``phonetic``
    substore of (id, s, key) rows — functions/dedup.py::phonetic_key —
    so link_batch can union a spelling-variant blocking pass the
    deletion variants cannot reach (Smyth/Smith at d > max_dist).
    The substore follows the same append/replay/erase layout. Mixing
    is rejected like a max_dist mismatch: a store either keys every
    master batch or none — a half-keyed store would silently miss
    links for exactly the older masters."""
    d = int(max_dist)
    if d < 1 or d > 2:
        raise ValueError("linkage index supports max_dist in {1, 2}")
    spark = master_df.sparkSession
    prior = _existing_dist(spark, state_dir)
    if prior is not None and prior != d:
        raise ValueError(
            f"linkage index at {state_dir} was built with max_dist="
            f"{prior}; refusing to append with max_dist={d}"
        )
    has_phonetic = bool(live_sources(_phonetic_dir(state_dir)))
    has_variants = bool(_sources(state_dir))
    if has_variants and phonetic != has_phonetic:
        raise ValueError(
            f"linkage index at {state_dir} was built with "
            f"phonetic={has_phonetic}; refusing to append with "
            f"phonetic={phonetic} — a half-keyed store misses links "
            f"for the unkeyed masters (rebuild to change)"
        )
    rows = (
        master_df.select(
            F.col(id_col).alias("id"), F.col(str_col).alias("s")
        )
        .where(F.col(str_col).isNotNull())
        .select(
            "id",
            "s",
            F.explode(_deletion_variants("s", d)).alias("v"),
            F.lit(d).alias("d"),
        )
    )
    target = append_path(_variants_dir(state_dir), batch_id)
    rows.write.mode("overwrite").parquet(target)
    if phonetic:
        from ..functions.dedup import phonetic_key

        keys = (
            master_df.select(
                F.col(id_col).alias("id"), F.col(str_col).alias("s")
            )
            .where(F.col(str_col).isNotNull())
            .select("id", "s", phonetic_key(F.col("s")).alias("k"))
        )
        keys.write.mode("overwrite").parquet(
            append_path(_phonetic_dir(state_dir), batch_id)
        )
    return target


def read_linkage_state(spark, state_dir: str) -> DataFrame:
    """All persisted master variant rows (id, s, v, d)."""
    src = _sources(state_dir)
    if not src:
        raise ValueError(f"no linkage index at {state_dir}")
    from ..functions.util import read_parquet_state

    return read_parquet_state(spark, *src)


def streaming_link(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    id_col: str = "id",
    str_col: str = "s",
    include_phonetic: bool = False,
) -> None:
    """Streaming record linkage — the continuous-ingest loop of the
    linkage family (the same pattern as streaming_dedup_exact /
    streaming_dedup_embedding): every micro-batch of the dirty feed
    links against the persisted master index inside foreachBatch, and
    its matches land in ``out_dir/batch=<micro_batch_id>``. A
    redelivered micro-batch overwrites its OWN partition with the
    identical deterministic result (the index is read-only here), so
    the loop is idempotent under at-least-once. The union over batch
    partitions equals one batch-mode link_batch over the whole feed —
    the q254 oracle's contract. Starts and drains an availableNow
    query."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        link_batch(
            batch_df, state_dir, id_col, str_col, include_phonetic
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={int(batch_id)}")
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def forget_from_linkage_state(
    spark, state_dir: str, ids, state_partitions: int = 1
) -> int:
    """Right-to-be-forgotten for the linkage index: a deletion request
    for master records must stop a dirty feed from LINKING to them —
    a forgotten customer whose name variants still match incoming
    records is a compliance failure (the erasure.py contract). Same
    crash-safe append-store fold as every other store (state/store.py).
    Returns the number of variant rows erased. As with
    the other stores, a later REPLAY of an old master batch re-admits
    its rows — deleting the record from the upstream master source is
    the caller's half of the contract."""
    from .erasure import _doomed_frame, _versioned_erase

    doomed = _doomed_frame(spark, ids)
    n = _versioned_erase(
        spark,
        _variants_dir(state_dir),
        lambda m: m.join(
            F.broadcast(doomed), m["id"] == doomed["__fid"], "left_anti"
        ).select("id", "s", "v", "d"),
        lambda m: m.join(
            F.broadcast(doomed), m["id"] == doomed["__fid"], "left_semi"
        ).count(),
        state_partitions,
    )
    if live_sources(_phonetic_dir(state_dir)):
        # the phonetic substore carries the same names — a forgotten
        # master reachable by KEY is the same compliance failure as
        # one reachable by variant
        n += _versioned_erase(
            spark,
            _phonetic_dir(state_dir),
            lambda m: m.join(
                F.broadcast(doomed), m["id"] == doomed["__fid"], "left_anti"
            ).select("id", "s", "k"),
            lambda m: m.join(
                F.broadcast(doomed), m["id"] == doomed["__fid"], "left_semi"
            ).count(),
            state_partitions,
        )
    return n


def link_batch(
    batch_df: DataFrame,
    state_dir: str,
    id_col: str = "id",
    str_col: str = "s",
    include_phonetic: bool = False,
    phonetic_max_bucket: int | None = None,
) -> DataFrame:
    """Link a dirty feed against the persisted master index: returns
    (id_a = feed id, id_b = master id, dist) for every pair within the
    index's max_dist. Only the FEED side computes variants here; the
    master side streams from parquet. Exact: variant equi-join, then
    length filter, then threshold levenshtein verification.

    With *include_phonetic=True* (requires a store appended with
    phonetic=True) the result is the candidate UNION of both blocking
    passes and gains a ``phonetic`` column: edit pairs carry their
    verified dist <= max_dist; pairs reachable ONLY by phonetic key
    carry the full Levenshtein distance (names are bounded-length, so
    the unthresholded verify is cheap) and phonetic=true. Pairs found
    by both report the edit path's dist with phonetic=true.

    Phonetic keys are Zipfian (every Smith shares S530), so
    *phonetic_max_bucket* caps the MASTER side of the phonetic pass:
    keys whose persisted group exceeds the cap are dropped from
    phonetic blocking (functions/dedup.py::phonetic_block_join's
    convention — a bucket that big blocks nothing, and the
    unthresholded verify would otherwise run on a quadratically
    exploding cross product; such names remain reachable through the
    edit-distance pass, which keeps full-entropy keys). The
    degenerate key of empty / non-letter names ('000' — every such
    string collapses to it) is always excluded from phonetic
    blocking: it asserts no phonetic similarity at all."""
    spark = batch_df.sparkSession
    state = read_linkage_state(spark, state_dir)
    d = _existing_dist(spark, state_dir)
    clean = batch_df.select(
        F.col(id_col).alias("id"), F.col(str_col).alias("s")
    ).where(F.col(str_col).isNotNull())
    feed = clean.select(
        F.col("id").alias("id_a"),
        F.col("s").alias("s_a"),
        F.explode(_deletion_variants("s", d)).alias("v"),
    )
    masters = state.select(
        F.col("id").alias("id_b"), F.col("s").alias("s_b"), "v"
    )
    cand = (
        feed.join(masters, "v")
        .where(F.abs(F.length("s_a") - F.length("s_b")) <= d)
        .select("id_a", "s_a", "id_b", "s_b")
        .distinct()
    )
    edit_pairs = (
        cand.withColumn("dist", F.levenshtein("s_a", "s_b", d))
        .where((F.col("dist") >= 0) & (F.col("dist") <= d))
        .select("id_a", "id_b", "dist")
    )
    if not include_phonetic:
        return edit_pairs
    from ..functions.dedup import phonetic_key

    psrc = live_sources(_phonetic_dir(state_dir))
    if not psrc:
        raise ValueError(
            f"linkage index at {state_dir} has no phonetic substore — "
            f"append with phonetic=True to link phonetically"
        )
    from ..functions.util import read_parquet_state

    pkeys = read_parquet_state(spark, *psrc).select(
        F.col("id").alias("id_b"), F.col("s").alias("s_b"), "k"
    )
    # the '000' key (empty / non-letter names) asserts no phonetic
    # similarity and is the hottest possible bucket: always excluded
    pkeys = pkeys.where(F.col("k").rlike("^[A-Z]"))
    if phonetic_max_bucket is not None:
        sizes = pkeys.groupBy("k").agg(F.count(F.lit(1)).alias("__n"))
        pkeys = pkeys.join(
            sizes.where(
                F.col("__n") <= int(phonetic_max_bucket)
            ).select("k"),
            "k",
            "left_semi",
        )
    fk = clean.select(
        F.col("id").alias("id_a"),
        F.col("s").alias("s_a"),
        phonetic_key(F.col("s")).alias("k"),
    ).where(F.col("k").rlike("^[A-Z]"))
    ph_pairs = (
        fk.join(pkeys, "k")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("s_a", "s_b").alias("dist"),
        )
        .distinct()
    )
    e = edit_pairs.withColumn("phonetic", F.lit(False))
    p = ph_pairs.withColumn("phonetic", F.lit(True))
    both = e.unionByName(p)
    # one row per pair: the edit path's dist wins when present (it is
    # the same true distance), phonetic flags OR together
    return both.groupBy("id_a", "id_b").agg(
        F.min("dist").alias("dist"),
        F.max("phonetic").alias("phonetic"),
    )
