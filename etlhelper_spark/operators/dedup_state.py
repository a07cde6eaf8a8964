"""Incremental cross-run deduplication against persisted state.

Every operator in functions/dedup.py deduplicates a corpus against
ITSELF; a production training-data pipeline ingests batch N+1 against
the accumulated fingerprint/signature store of batches 1..N without
recomputing anything for the old corpus. This module is the IVM
state-store pattern (operators/ivm.py — versioned parquet state,
replay-idempotent per batch id) applied to the dedup substrate
(functions/dedup.py — content fingerprints and MinHash LSH bands).

Stores under ``state_dir`` (rows per store)::

    exact/          (fingerprint, survivor_id, batch)
    bands/          (id, band, band_key, batch)
    embedding_lsh/  (rep_id, members, v, sigs, batch)
    spans/          (g, batch)
    clusters/       (node_id, cluster_id)  rewrite store
    exact_bloom/    (word, bits, m, k)     rewrite store

The first four are APPEND stores (layouts and commit rules:
state/store.py) — the natural shape for dedup state, because a
first-seen survivor never changes and band keys are immutable per
document. Each apply writes only its own batch append (O(new
batch), never O(corpus)), so a replayed batch id is idempotent under
at-least-once delivery. Batches are identified by a caller-supplied
monotonically increasing integer; "first seen" ties inside one batch
break by lowest id.

100 TB design notes:

- Per-batch cost: O(batch) fingerprint/signature compute (linear
  scans, the same kernels as the batch operators) + one equi-join of
  the new batch's keys against the accumulated state. The state side
  is |distinct fingerprints| / |corpus × bands| rows of ~50-byte keys
  — orders of magnitude smaller than the corpus text it summarizes.
- The state join shuffles both sides on the key. When the state
  outgrows comfortable shuffle size, the upgrade is mechanical:
  persist the state as a parquet table bucketed on the join key
  (``bucketBy(n, "fingerprint").sortBy(...).saveAsTable``) and the
  per-batch join shuffles ONLY the new batch into the bucket layout —
  the accumulated state never moves again. The path-based layout here
  keeps the operator self-contained (no metastore dependency) and is
  bit-compatible with that upgrade.
- Appends are repartitioned small (new-fingerprint count per batch is
  bounded by batch size) so state files stay few and scan-friendly.

Correctness contract (oracle-verified in q176/q177): after applying
batches 1..N in order, the union of the per-batch verdicts equals the
FULL-CORPUS recompute — survivors are first-seen (batch asc, id asc)
for the exact store, and the incremental candidate-pair union equals
minhash_lsh_candidates over the whole corpus.

Reference parity note: the reference (a DB-API cursor wrapper) has no
dedup or state machinery; its closest surface is the incremental-load
recipe shape — `load`/`executemany` appending batches to a destination
table (etlhelper/etl.py:233-339) with dedup left to downstream SQL.
This module is that ingest loop with the dedup state made first-class.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.util import in_values, read_parquet_state
from ..state.store import (
    append_path,
    appends_below,
    commit_version,
    fold,
    latest_below,
    prune,
    read_latest,
    read_live,
    read_prior,
)
from pyspark.sql.window import Window


def compact_dedup_state(
    spark,
    state_dir: str,
    store: str,
    state_partitions: int = 1,
) -> int:
    """Fold a store's per-batch append directories into its ``base``
    — the maintenance operation that keeps an append-only state's
    file count bounded over thousands of ingest batches (every apply
    adds a ``batch=<id>`` directory; a year of hourly batches is ~9k
    directories whose listing + multi-path read eventually dominates
    the state join).

    ``store`` is one of ``exact`` / ``bands`` / ``embedding_lsh``.
    Rows keep their original ``batch`` column, so compaction is pure
    physical re-layout: first-seen resolution (min_by on batch) and
    replay filtering (batch < id) read identically from base as from
    the original appends — verdict equivalence after compaction is
    pinned in test_dedup_state.py. Any row present in both an old base
    and an append (a replay between compactions) collapses through the
    same reader aggregates that make replays harmless in the first
    place.

    Crash-safe: the append-store fold of state/store.py (a complete
    state is visible at every instant). Returns the number of
    directories folded."""
    subdir = os.path.join(state_dir, store)
    merged, appends = read_live(spark, subdir)
    if not appends:
        return 0
    fold(merged, subdir, appends, state_partitions)
    return len(appends)


def forget_from_dedup_state(
    spark,
    state_dir: str,
    ids,
    state_partitions: int = 1,
) -> int:
    """ERASE documents from the exact-dedup fingerprint state — the
    right-to-be-forgotten operation a first-seen ledger needs: the
    state maps each content fingerprint to its first-seen SURVIVOR, so
    when a survivor document is deleted from the corpus, its state
    rows must go too. The operational semantics of erasure here:
    future duplicates of the forgotten content are re-admitted as NEW
    first-seen documents (the content's exemplar no longer exists to
    point at — keeping the fingerprint would keep dedup verdicts
    referencing a deleted document forever, which is exactly what
    erasure forbids). Content whose survivor is NOT in *ids* is
    untouched.

    *ids* is a Python list (bounded erasure requests) or a one-column
    DataFrame of ids (bulk erasure feeds — anti-joined, never
    collected). Every live row EXCEPT the forgotten survivors' is
    written through the same crash-safe fold as compact_dedup_state,
    which then removes the old base and appends. Cost: one state scan + an
    O(|state|) write — the state is |distinct contents| rows, never
    the corpus. Returns the number of erased state rows."""
    from pyspark.sql import DataFrame as _DF

    subdir = os.path.join(state_dir, "exact")
    merged, appends = read_live(spark, subdir)
    if merged is None:
        raise ValueError(
            f"forget_from_dedup_state: no state under {subdir}"
        )
    if isinstance(ids, _DF):
        doomed = ids.select(
            F.col(ids.columns[0]).alias("survivor_id")
        ).distinct()
        kept = merged.join(doomed, "survivor_id", "left_anti")
        n_forgotten = (
            merged.join(doomed, "survivor_id", "left_semi").count()
        )
    else:
        id_list = [int(x) for x in ids]
        kept = merged.where(~in_values("survivor_id", id_list))
        n_forgotten = merged.where(
            in_values("survivor_id", id_list)
        ).count()
    fold(
        kept.select("fingerprint", "survivor_id", "batch"),
        subdir,
        appends,
        state_partitions,
    )
    return int(n_forgotten)


def prune_state_versions(
    state_dir: str, store: str, keep: int = 2
) -> int:
    """Delete all but the newest *keep* versions of a FULL-VERSIONED
    store (``v<batch>`` dirs — cluster labels, index stats, CDC
    snapshots, sketch rollups): each apply writes a complete copy, so
    an unpruned store grows O(batches × state) — far worse than the
    append-only stores compact_dedup_state handles.

    ``keep >= 2`` preserves at-least-once safety for the LATEST batch:
    a replay of batch N reads the newest version below N, so the
    previous version must survive until N's overwrite lands. Replaying
    batches older than the retained window needs the corresponding
    older versions — retain as many as the delivery system can
    redeliver (for availableNow/foreachBatch loops that is only the
    current batch, so the default suffices). Returns the number of
    version directories removed."""
    if keep < 1:
        raise ValueError("prune_state_versions: keep must be >= 1")
    return prune(os.path.join(state_dir, store), keep)


def dedup_exact_incremental(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
    state_partitions: int = 1,
) -> DataFrame:
    """Deduplicate *new_df* against the accumulated fingerprint state,
    then append this batch's NEW fingerprints to it.

    Returns one verdict row per new document:
    (id, fingerprint, survivor_id, kept) where ``survivor_id`` is the
    FIRST-SEEN document with the same content across all batches
    applied so far (earliest batch, lowest id within it) and ``kept``
    marks the survivor itself. Equivalent to running
    functions/dedup.py::dedup_exact over the full corpus with
    first-seen-wins ordering — the oracle contract of
    q176_dedup_incremental.

    Plan shape: one fingerprint scan of the batch, one groupBy on the
    fingerprint (batch-local survivor election), one left join against
    prior state, and an O(new fingerprints) append. History text is
    never re-read.
    """
    spark = new_df.sparkSession
    subdir = os.path.join(state_dir, "exact")
    fps = _batch_fingerprints(new_df, id_col, text_col, normalize)
    prior = read_prior(spark, subdir, batch_id)
    resolved, verdict = _resolve_exact(fps, prior, batch_id)
    # append ONLY unseen fingerprints, with their first-seen survivor
    resolved.where(F.col("__new_fp")).select(
        "fingerprint", "survivor_id", "batch"
    ).repartition(state_partitions).write.mode("overwrite").parquet(
        append_path(subdir, batch_id)
    )
    return verdict


def _batch_fingerprints(
    new_df: DataFrame, id_col: str, text_col: str, normalize: bool
) -> DataFrame:
    from ..functions.text import document_fingerprint

    fp = (
        document_fingerprint(F.col(text_col))
        if normalize
        else F.md5(F.col(text_col))
    )
    return new_df.select(
        F.col(id_col).alias("id"), fp.alias("fingerprint")
    ).localCheckpoint(eager=False)  # computed once at the first
    # action, reused by the second (survivor election + verdict) —
    # eager paid a separate scheduler job per micro-batch


def _resolve_exact(
    fps: DataFrame, prior: DataFrame | None, batch_id: int
) -> tuple[DataFrame, DataFrame]:
    """Shared survivor resolution for both state layouts: returns
    (resolved, verdict) where resolved carries one row per batch
    fingerprint (fingerprint, survivor_id, batch, __new_fp) and
    verdict is the per-document output frame."""
    # batch-local survivor: lowest id per fingerprint among NEW docs
    batch_surv = fps.groupBy("fingerprint").agg(
        F.min("id").alias("batch_survivor")
    )
    if prior is not None:
        # one survivor per fingerprint across prior appends (unique by
        # construction — a fingerprint is appended only when unseen;
        # min_by(batch) collapses out-of-order or replayed duplicates)
        prior_surv = prior.groupBy("fingerprint").agg(
            F.min_by("survivor_id", F.struct("batch", "survivor_id")).alias(
                "prior_survivor"
            )
        )
        resolved = batch_surv.join(prior_surv, "fingerprint", "left")
    else:
        resolved = batch_surv.withColumn(
            "prior_survivor",
            F.lit(None).cast(fps.schema["id"].dataType),
        )
    resolved = resolved.select(
        "fingerprint",
        F.coalesce("prior_survivor", "batch_survivor").alias("survivor_id"),
        F.lit(int(batch_id)).cast("long").alias("batch"),
        F.col("prior_survivor").isNull().alias("__new_fp"),
    ).localCheckpoint(eager=False)  # computed once at the first
    # action (state append), reused by the verdict join — eager paid a
    # separate scheduler job per micro-batch
    # verdicts read the RESOLVED survivors (not the files — same
    # values, no re-read); kept = this doc IS the first-seen survivor
    verdict = fps.join(
        resolved.select("fingerprint", "survivor_id"), "fingerprint"
    ).select(
        F.col("id"),
        "fingerprint",
        "survivor_id",
        (F.col("id") == F.col("survivor_id")).alias("kept"),
    )
    return resolved, verdict


def dedup_exact_incremental_bloom(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
    m_bits: int = 1 << 22,
    num_hashes: int = 4,
    state_partitions: int = 1,
) -> DataFrame:
    """:func:`dedup_exact_incremental` with a persisted BLOOM FILTER
    in front of the state join — the scan-side pruning upgrade for the
    regime where almost every new document is genuinely new (the
    common case of web-scale ingest: duplicate rates of a few percent
    against a fingerprint store of 10^10+).

    Why it helps at 100 TB: the plain variant's state join must
    confront the FULL accumulated fingerprint state with the batch
    every apply (shuffling one side or — bucketed — scanning all of
    it through the join). The bloom filter is an m-bit summary of
    every fingerprint ever admitted (k positions per key via seeded
    xxhash64, OR-folded into 64-bit words; only non-zero words are
    stored). A new batch probes the bitmap first; fingerprints with
    any unset bit are DEFINITELY new (no false negatives, the bloom
    guarantee) and skip the state join entirely. Only the maybe-seen
    candidates — true duplicates plus an ~(1-e^{-kn/m})^k false-positive
    sliver — reach the state, as a BROADCAST semi-join filter on the
    state scan: the accumulated state is never shuffled, and the rows
    that survive the scan are O(candidates), not O(state). Bitmap
    size is m/64 words ≈ a few MB per billion keys at 1% FP — the
    shuffle it replaces is the whole fingerprint store.

    Correctness is bloom-INDEPENDENT: false positives only let a few
    extra fingerprints into the exact join (where they match nothing),
    so verdicts are bit-identical to the plain variant over any batch
    sequence — pinned in test_dedup_state.py by running both stacks
    and by forcing a tiny bitmap (heavy false positives). The exact
    store layout is SHARED with dedup_exact_incremental (same
    ``exact/batch=<id>`` appends), so the two variants interoperate on
    one state; the bitmap lives beside it in full versions
    (``exact_bloom/v<batch>``, the ivm convention — a replayed batch
    re-ORs the same idempotent bits and overwrites its own version;
    prune with prune_state_versions).

    Interop is handled by COVERAGE, not by hope: a bitmap at version
    b_v summarizes only the state admitted through bloom applies up to
    batch b_v. State rows with ``batch > b_v`` (a plain-variant apply
    in between, or a store predating the bloom — in which case there
    is no bitmap and everything is a candidate) bypass the bitmap and
    join unconditionally, and their fingerprints are probed into the
    NEW bitmap version alongside the current batch's — so one bloom
    apply heals the gap and the next one prunes at full strength. A
    fingerprint in the state can therefore never be bloom-filtered
    away: no false negatives under any interleaving (tested)."""
    spark = new_df.sparkSession
    subdir = os.path.join(state_dir, "exact")
    bloom_dir = os.path.join(state_dir, "exact_bloom")
    fps = _batch_fingerprints(new_df, id_col, text_col, normalize)
    prior = read_prior(spark, subdir, batch_id)
    bloom_v = latest_below(bloom_dir, batch_id)
    bloom = (
        read_parquet_state(spark, bloom_v[1]) if bloom_v is not None else None
    )
    if bloom is not None:
        # the bitmap only means anything under the (m, k) it was built
        # with — a silent mismatch would create false NEGATIVES, so the
        # parameters ride in the state and a drift fails loudly
        meta = bloom.select("m", "k").first()
        if (meta["m"], meta["k"]) != (int(m_bits), int(num_hashes)):
            raise ValueError(
                "dedup_exact_incremental_bloom: bitmap at "
                f"{bloom_dir} was built with m={meta['m']}, k={meta['k']} "
                f"— got m={int(m_bits)}, k={int(num_hashes)}"
            )
    probes = _bloom_probes(
        fps.select("fingerprint").distinct(), m_bits, num_hashes
    )
    bv = bloom_v[0][0] if bloom_v is not None else -1
    gap_probes = None
    if prior is not None and bloom is None:
        # FIRST bloom apply over a store built by plain-variant applies:
        # there is no bitmap, so every prior fingerprint is a candidate
        # (no pruning this apply) — but the bitmap written BELOW carries
        # version batch_id, which future applies read as "covers all
        # state with batch <= batch_id". It must therefore summarize the
        # ENTIRE legacy store, not just this batch, or legacy
        # fingerprints would be bloom-filtered out of later joins —
        # false negatives (duplicates admitted as new). Fold them all in.
        gap_probes = _bloom_probes(
            prior.select("fingerprint").distinct(), m_bits, num_hashes
        )
    if prior is not None and bloom is not None:
        candidates = (
            probes.join(bloom.select("word", "bits"), "word", "left")
            .groupBy("fingerprint")
            # all k probed bits set ⇒ maybe seen; any miss ⇒ new
            .agg(
                F.min(
                    (
                        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(
                            F.col("mask")
                        )
                    )
                    != 0
                ).alias("maybe_seen")
            )
            .where("maybe_seen")
            .select("fingerprint")
        )
        # the bitmap covers only bloom-applied batches ≤ its version:
        # newer state rows (plain-variant applies in between) bypass it
        covered = prior.where(F.col("batch") <= int(bv))
        uncovered = prior.where(
            F.col("batch") > int(bv)
        ).localCheckpoint(eager=False)
        # candidates are O(duplicates + FP sliver): broadcast them so
        # the covered state prunes scan-side and NEVER shuffles
        prior = covered.join(
            F.broadcast(candidates), "fingerprint", "left_semi"
        ).unionByName(uncovered)
        gap_probes = _bloom_probes(
            uncovered.select("fingerprint").distinct(), m_bits, num_hashes
        )
    # fold the batch's bits — and any bitmap-gap state rows' — into the
    # bitmap (idempotent OR — replays and already-seen fingerprints
    # re-set the same bits harmlessly). The bitmap commits FIRST: its
    # replay guard must reject an out-of-order id before the append
    # lands, and a crash between the two leaves only set bits with no
    # state rows behind them (false positives, never false negatives)
    all_probes = (
        probes.unionByName(gap_probes) if gap_probes is not None else probes
    )
    new_words = all_probes.groupBy("word").agg(F.bit_or("mask").alias("bits"))
    if bloom is not None:
        new_words = (
            bloom.select("word", "bits")
            .unionByName(new_words)
            .groupBy("word")
            .agg(F.bit_or("bits").alias("bits"))
        )
    commit_version(
        new_words.select(
            "word",
            "bits",
            F.lit(int(m_bits)).alias("m"),
            F.lit(int(num_hashes)).alias("k"),
        ).repartition(state_partitions),
        bloom_dir,
        batch_id,
    )
    resolved, verdict = _resolve_exact(fps, prior, batch_id)
    resolved.where(F.col("__new_fp")).select(
        "fingerprint", "survivor_id", "batch"
    ).repartition(state_partitions).write.mode("overwrite").parquet(
        append_path(subdir, batch_id)
    )
    return verdict


def _bloom_probes(
    distinct_fps: DataFrame, m_bits: int, num_hashes: int
) -> DataFrame:
    """(fingerprint, word, mask) probe rows: k seeded-xxhash64 bit
    positions per fingerprint, addressed as (64-bit word index, mask).
    pmod keeps positions non-negative; bit 63 masks to a negative
    long, which bitwise ops treat correctly."""
    return (
        distinct_fps.select(
            "fingerprint",
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.col("fingerprint"), F.lit(i)),
                            F.lit(int(m_bits)),
                        )
                        for i in range(num_hashes)
                    ]
                )
            ).alias("bitpos"),
        )
        .select(
            "fingerprint",
            (F.col("bitpos") / 64).cast("long").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(bitpos, 64) AS INT))"
            ).alias("mask"),
        )
    )


def ensure_bucketed_state_table(
    spark, table: str, location: str, buckets: int = 64
) -> None:
    """(Re-)register the bucketed fingerprint state table over its
    file location. CREATE TABLE IF NOT EXISTS with an explicit
    LOCATION makes the state survive session restarts even on an
    in-memory catalog: a fresh session re-issues the same DDL and the
    existing bucketed files are picked up intact (verified in
    test_dedup_state.py)."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} "
        "(fingerprint STRING, survivor_id BIGINT, batch BIGINT) "
        "USING PARQUET CLUSTERED BY (fingerprint) "
        f"SORTED BY (fingerprint) INTO {int(buckets)} BUCKETS "
        f"LOCATION '{location}'"
    )


def dedup_exact_incremental_bucketed(
    new_df: DataFrame,
    table: str,
    location: str,
    batch_id: int,
    buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """The shuffle-at-scale upgrade of :func:`dedup_exact_incremental`
    promised in the module docstring, made real: state lives in a
    parquet table BUCKETED on the fingerprint, so the per-batch state
    join never shuffles the accumulated state — only the (much
    smaller) new batch hash-partitions into the bucket layout. Plan
    shape asserted in test_dedup_state.py: the state-side scan reads
    ``Bucketed: true`` with ZERO Exchange above it under a sort-merge
    join; at 10^11 accumulated fingerprints that is the difference
    between an O(state) shuffle per batch and an O(batch) one.

    Same semantics and verdict schema as the path-based variant
    (equivalence tested), with two trades, both stated:

    - ids must be integral (the DDL pins survivor_id BIGINT);
    - replay is HARMLESS rather than overwriting: a replayed batch
      re-appends byte-identical rows (its append set is derived from
      state strictly BELOW its batch id, so reruns can't see their own
      output), and every reader collapses duplicates through the
      min_by aggregate. State compaction, when wanted, is a rewrite of
      the table — the standard bucketed-table maintenance story.
    """
    spark = new_df.sparkSession
    ensure_bucketed_state_table(spark, table, location, buckets)
    fps = _batch_fingerprints(new_df, id_col, text_col, normalize)
    prior_all = spark.table(table).where(F.col("batch") < int(batch_id))
    prior = prior_all if prior_all.limit(1).count() else None
    resolved, verdict = _resolve_exact(fps, prior, batch_id)
    resolved.where(F.col("__new_fp")).select(
        "fingerprint",
        F.col("survivor_id").cast("long").alias("survivor_id"),
        "batch",
    ).write.mode("append").insertInto(table)
    return verdict


def minhash_incremental(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    state_partitions: int = 1,
) -> DataFrame:
    """Near-duplicate candidate pairs of *new_df* against everything
    seen so far (prior batches AND this batch), then append this
    batch's band keys to the state.

    Returns (id_a, id_b) with id_a < id_b: the union of
    cross-run collisions (new doc shares a band bucket with a
    previously-ingested doc) and intra-batch collisions (the ordinary
    LSH self-join restricted to the new batch). Applying batches 1..N
    in order and unioning the results yields EXACTLY
    minhash_lsh_candidates over the full corpus — banding is per-doc
    deterministic, so every colliding pair is emitted in the batch
    that completes it, once. That recompute-equivalence is the oracle
    contract of q177_minhash_incremental.

    Plan shape: the batch's signatures compute once (the wide
    single-groupBy minhash kernel); candidates come from one equi-join
    of the batch's band keys against the accumulated band state plus
    one batch-local self-join — shuffle keys are (band, band_key)
    buckets, never all pairs, exactly like the batch operator. The
    state append is O(batch × bands) rows of band keys.
    """
    from ..functions.dedup import minhash_band_keys

    spark = new_df.sparkSession
    subdir = os.path.join(state_dir, "bands")
    keys = minhash_band_keys(
        new_df, id_col, text_col, num_hashes, bands, shingle_size
    ).localCheckpoint(eager=False)  # computed once at the first
    # action, reused by the other two (2 joins + append) — eager paid a
    # separate scheduler job per micro-batch
    prior = read_prior(spark, subdir, batch_id)
    n = keys.alias("n")
    intra = (
        n.join(
            keys.alias("m"),
            (F.col("n.band") == F.col("m.band"))
            & (F.col("n.band_key") == F.col("m.band_key"))
            & (F.col("n.id") < F.col("m.id")),
        )
        .select(F.col("n.id").alias("id_a"), F.col("m.id").alias("id_b"))
    )
    if prior is not None:
        cross = (
            n.join(
                prior.alias("p"),
                (F.col("n.band") == F.col("p.band"))
                & (F.col("n.band_key") == F.col("p.band_key")),
            )
            .select(
                F.least(F.col("n.id"), F.col("p.id")).alias("id_a"),
                F.greatest(F.col("n.id"), F.col("p.id")).alias("id_b"),
            )
        )
        pairs = intra.unionAll(cross)
    else:
        pairs = intra
    keys.withColumn("batch", F.lit(int(batch_id))).repartition(
        state_partitions
    ).write.mode("overwrite").parquet(
        append_path(subdir, batch_id)
    )
    return pairs.distinct()


def embedding_lsh_incremental(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 12,
    num_tables: int = 16,
    dim: int = 64,
    state_partitions: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs of *new_df* against
    everything ingested so far, via persisted random-hyperplane LSH
    signature state — the third incremental dedup modality, completing
    exact-fingerprint and MinHash-band state.

    Per batch: bit-identical vectors collapse to one representative
    (the degenerate-region guard embedding_near_duplicates documents —
    identical vectors collide in EVERY table, so without the collapse
    a hot vector makes the state join quadratic; with it the state
    carries one row per distinct vector and the intra-group pairs are
    emitted by expansion, never a join), representatives hash into
    (table, signature) buckets with the same md5-derived plane matrix
    as the batch operator, and candidates come from the bucket
    equi-join against the accumulated representative state plus the
    batch-local self-join. Exact cosine verifies every candidate at
    ``threshold``; verified representative pairs expand to member
    pairs. Cross-batch copies of an already-ingested vector are found
    deterministically (identical vectors share every signature).

    State rows: ONE per distinct vector — (rep_id, members, v, sigs,
    batch), with the full signature ARRAY instead of one row per
    (vector, table): the bucket join explodes lean (rep_id, tbl, sig)
    rows on demand, so neither the state files nor the join shuffle
    ever carry ``num_tables`` copies of a 512-byte vector (the same
    payload discipline lsh_bucket_topk applies — vectors move only at
    the verify join, keyed by rep id). At 10^9 vectors the state is
    the same storage class as the IVF index (the distinct corpus plus
    its signatures). Appends are O(batch-distinct).
    Pair sets across sequential applies are disjoint (a later batch's
    pairs involve its own members), so their union needs no dedup —
    and equals the one-shot LSH pair set, whose recall against the
    exact all-pairs truth is what q183's oracle checks end to end.

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine ≥ threshold.
    """
    from ..functions.similarity import cosine_similarity, lsh_signatures

    spark = new_df.sparkSession
    subdir = os.path.join(state_dir, "embedding_lsh")
    sig_kernel = lsh_signatures(num_tables, num_planes, dim)
    # one row per DISTINCT vector, signatures computed once — consumed
    # by the bucket explode, both verify joins, the intra-dup pairs,
    # and the state append
    reps = (
        new_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .groupBy("v")
        .agg(F.sort_array(F.collect_list("id")).alias("members"))
        .select(F.element_at("members", 1).alias("rep_id"), "members", "v")
        .withColumn("sigs", sig_kernel(F.col("v")))
        # computed once at the first action (pairs write), reused by
        # the state append — eager paid a separate job per micro-batch
        .localCheckpoint(eager=False)
    )

    def lean_buckets(rep_frame: DataFrame, rid: str) -> DataFrame:
        # ~50-byte bucket rows: the join never shuffles vectors/members
        return rep_frame.select(
            F.col("rep_id").alias(rid),
            F.posexplode("sigs").alias("tbl", "sig"),
        )

    # intra-batch: identical-vector groups are exact duplicates
    intra_dup = (
        reps.where(F.size("members") >= 2)
        .select(
            "members",
            F.round(
                cosine_similarity(F.col("v"), F.col("v")), 4
            ).alias("cosine"),
            F.posexplode("members").alias("pos", "id_a"),
        )
        .select(
            "id_a",
            F.explode(
                F.slice("members", F.col("pos") + F.lit(2), F.size("members"))
            ).alias("id_b"),
            "cosine",
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )

    va = reps.select(
        F.col("rep_id").alias("ra"),
        F.col("v").alias("va"), F.col("members").alias("ma"),
    )

    def verified(cand: DataFrame, b_side: DataFrame) -> DataFrame:
        """Join candidate (ra, rb) rep pairs back to their vectors and
        member sets, verify exact cosine, expand to member pairs."""
        vb = b_side.select(
            F.col("rep_id").alias("rb"),
            F.col("v").alias("vb"), F.col("members").alias("mb"),
        )
        return (
            cand.join(va, "ra")
            .join(vb, "rb")
            .select(
                "ma", "mb",
                F.round(
                    cosine_similarity(F.col("va"), F.col("vb")), 4
                ).alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
            .select(F.explode("ma").alias("ea"), "mb", "cosine")
            .select("ea", F.explode("mb").alias("eb"), "cosine")
            .select(
                F.least("ea", "eb").alias("id_a"),
                F.greatest("ea", "eb").alias("id_b"),
                "cosine",
            )
        )

    nb = lean_buckets(reps, "ra")
    intra_near = verified(
        nb.join(lean_buckets(reps, "rb"), ["tbl", "sig"])
        .where(F.col("ra") < F.col("rb"))
        .select("ra", "rb")
        .dropDuplicates(["ra", "rb"]),
        reps,
    )
    prior = read_prior(spark, subdir, batch_id)
    if prior is not None:
        cross = verified(
            nb.join(lean_buckets(prior, "rb"), ["tbl", "sig"])
            .select("ra", "rb")
            .dropDuplicates(["ra", "rb"]),
            prior,
        )
        out = intra_dup.unionAll(intra_near).unionAll(cross)
    else:
        out = intra_dup.unionAll(intra_near)
    reps.withColumn("batch", F.lit(int(batch_id))).repartition(
        state_partitions
    ).write.mode("overwrite").parquet(
        append_path(subdir, batch_id)
    )
    # no final distinct: the three streams are disjoint by construction
    # (within-group / cross-group-same-batch / involves-an-older-member)
    # and each is internally deduped — dropDuplicates on rep pairs
    # before expansion, and every id belongs to exactly one group
    return out


def duplicate_clusters_incremental(
    new_pairs: DataFrame,
    state_dir: str,
    batch_id: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    state_partitions: int = 1,
) -> DataFrame:
    """Maintain duplicate CLUSTERS (connected components) as new pair
    batches arrive — the state-backed companion to the incremental
    pair generators: pairs from batch N+1 must merge into the
    accumulated clustering without re-running label propagation over
    every edge ever seen.

    The standard incremental-CC treatment, cluster CONTRACTION: every
    prior cluster collapses to its label (one super-node), the new
    batch's edges are rewritten through the prior labels (an unseen
    endpoint stays itself), edges now internal to one cluster drop
    out, and label propagation (functions/dedup.py::
    duplicate_clusters) runs on the CONTRACTED graph only — nodes =
    touched clusters + new nodes, edges = the new batch. History
    edges are never revisited; since labels are component-minimum ids,
    the contracted component's minimum equals the full recompute's
    minimum, so sequential applies EQUAL re-clustering all pairs at
    once in any apply order (q184's oracle — q37's recursive-CTE
    transitive closure, unchanged).

    State is FULL-VERSIONED (``v<batch>`` dirs, the ivm convention —
    relabeling on a merge rewrites affected rows, so append-only
    doesn't fit): |clustered nodes| rows per version, a replayed
    batch overwrites its own version reading only versions below it.
    Per-batch cost: O(new edges) + label propagation over the
    contracted graph (diameter-bounded rounds over batch-sized data)
    + one |state|-sized remap join against the batch-sized
    (broadcastable) label mapping.

    Returns the new full state (node_id, cluster_id)."""
    from ..functions.dedup import duplicate_clusters

    spark = new_pairs.sparkSession
    subdir = os.path.join(state_dir, "clusters")
    prior = read_latest(spark, subdir, batch_id)
    edges = (
        new_pairs.select(
            F.col(id_a).alias("a"), F.col(id_b).alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    if prior is not None:
        la = prior.select(
            F.col("node_id").alias("a"), F.col("cluster_id").alias("ca")
        )
        lb = prior.select(
            F.col("node_id").alias("b"), F.col("cluster_id").alias("cb")
        )
        contracted = (
            edges.join(la, "a", "left")
            .join(lb, "b", "left")
            .select(
                F.coalesce("ca", "a").alias("id_a"),
                F.coalesce("cb", "b").alias("id_b"),
            )
            .where(F.col("id_a") != F.col("id_b"))
        )
    else:
        contracted = edges.select(
            F.col("a").alias("id_a"), F.col("b").alias("id_b")
        )
    # label propagation over the contracted graph only; mapping is
    # (touched old label | new node) -> merged component minimum
    mapping = duplicate_clusters(contracted, "id_a", "id_b").select(
        F.col("node_id").alias("cnode"), F.col("cluster_id").alias("nlabel")
    )
    if prior is not None:
        remapped = (
            prior.join(
                mapping, prior.cluster_id == mapping.cnode, "left"
            )
            .select(
                "node_id",
                F.coalesce("nlabel", "cluster_id").alias("cluster_id"),
            )
        )
        fresh = (
            mapping.join(
                prior.select("node_id"),
                mapping.cnode == F.col("node_id"),
                "left_anti",
            )
            .select(
                F.col("cnode").alias("node_id"),
                F.col("nlabel").alias("cluster_id"),
            )
        )
        state = remapped.unionByName(fresh)
    else:
        state = mapping.select(
            F.col("cnode").alias("node_id"),
            F.col("nlabel").alias("cluster_id"),
        )
    return read_parquet_state(
        spark,
        commit_version(state.repartition(state_partitions), subdir, batch_id),
    )


def span_dedup_incremental(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    state_partitions: int = 4,
) -> DataFrame:
    """SPAN-level dedup of a new batch against the accumulated n-gram
    digest state — the incremental form of q214's duplicated-window
    coverage (Lee-et-al. span dedup as a cross-run pipeline stage):
    a window position in a batch document counts as duplicated when
    its exact n-token window appears in ANY earlier batch or in a
    second document of the current batch. Returns one row per batch
    document: (id, n_grams, n_dup, dup_coverage).

    Contract (the q176 first-seen discipline applied to spans): each
    batch is scored against batches 1..N — exactly what the
    q221 oracle restates as batch-1-grams ∪ second-batch-doc
    membership. Earlier batches' verdicts are immutable (a later
    reuse of their spans does not rewrite history — history text is
    never re-read).

    Plan shape: one codegen window-digest projection over the batch
    (q211's chunker at stride 1), one (digest, doc) aggregate, the
    batch-local cross-doc count as a count-over-Window on that
    reduced table, one digest-keyed LEFT join against the accumulated
    distinct-digest state (O(batch + state), the only contact with
    history), one doc-keyed rollup — and an O(new digests) append
    into the ``batch=<id>`` ledger (replay-idempotent: a re-run
    overwrites its own append and never sees it as prior)."""
    spark = new_df.sparkSession
    subdir = os.path.join(state_dir, "spans")
    toks = (
        new_df.where(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("id"),
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("t"),
        )
        .where(F.size("t") >= int(n))
    )
    g = toks.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (int(n) - 1)),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("t", i, int(n)))
                ),
            )
        ).alias("g"),
    )
    gp = g.groupBy("g", "id").agg(F.count(F.lit(1)).alias("pos_cnt"))
    nd_batch = F.count(F.lit(1)).over(Window.partitionBy("g"))
    prior = read_prior(spark, subdir, batch_id)
    seen = (
        prior.select("g").distinct().withColumn("__seen", F.lit(True))
        if prior is not None
        else None
    )
    marked = gp.withColumn("nd_batch", nd_batch)
    if seen is not None:
        marked = marked.join(seen, "g", "left")
    else:
        marked = marked.withColumn("__seen", F.lit(None).cast("boolean"))
    # computed once at the first action, reused by the second
    # (verdict rollup + new-digest append)
    marked = marked.localCheckpoint(eager=False)
    dup = (F.col("nd_batch") >= 2) | F.coalesce(
        F.col("__seen"), F.lit(False)
    )
    verdict = marked.groupBy("id").agg(
        F.sum("pos_cnt").alias("n_grams"),
        F.coalesce(
            F.sum(F.when(dup, F.col("pos_cnt"))), F.lit(0)
        ).alias("n_dup"),
        F.round(
            (
                F.coalesce(
                    F.sum(F.when(dup, F.col("pos_cnt"))), F.lit(0)
                )
                / F.sum("pos_cnt").cast("double")
            ).cast("decimal(30,10)"),
            4,
        )
        .cast("double")
        .alias("dup_coverage"),
    )
    (
        marked.where(~F.coalesce(F.col("__seen"), F.lit(False)))
        .select("g")
        .distinct()
        .withColumn("batch", F.lit(int(batch_id)))
        .repartition(state_partitions)
        .write.mode("overwrite")
        .parquet(append_path(subdir, batch_id))
    )
    return verdict


def streaming_dedup_exact(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> None:
    """Streaming form of the incremental exact dedup: every
    micro-batch is deduplicated against the accumulated fingerprint
    store via ``dedup_exact_incremental`` inside foreachBatch — the
    continuously-ingesting corpus curator, composing the streaming
    ledger (micro-batch id = state batch id, replays overwrite their
    own append AND their own verdict partition, so the whole loop is
    idempotent under at-least-once) with the dedup state store.

    Verdicts land in ``out_dir/batch=<id>`` with the same
    (id, fingerprint, survivor_id, kept) schema; the union over
    batches equals the batch-mode sequential applies — and therefore
    the full-corpus first-seen recompute (q181's oracle, the same
    contract as q176 with the streaming machinery in the loop).
    First-seen order across micro-batches follows the source's batch
    order (for file sources: modification-time order — the arrival
    order, which is what "first seen" means operationally).

    Starts and drains an availableNow query."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        verdict = dedup_exact_incremental(
            batch_df, state_dir, batch_id, id_col, text_col, normalize
        )
        verdict.write.mode("overwrite").parquet(
            append_path(out_dir, batch_id)
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_dedup_embedding(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 12,
    num_tables: int = 16,
    dim: int = 64,
) -> None:
    """Streaming form of the incremental embedding near-dup — the
    third dedup modality's continuous-ingest loop (exact fingerprints
    have streaming_dedup_exact; MinHash bands ride the same pattern):
    each micro-batch runs embedding_lsh_incremental against the
    accumulated signature state inside foreachBatch, with micro-batch
    id = state batch id, so replays overwrite both their state append
    and their pair partition — idempotent under at-least-once.

    Pair batches land in ``out_dir/batch=<id>`` as (id_a, id_b,
    cosine); the union over batches equals the batch-mode sequential
    applies (pair sets across applies are disjoint by construction —
    see embedding_lsh_incremental), and therefore carries the same
    recall-vs-exact-truth contract q183 verifies.

    Starts and drains an availableNow query."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        pairs = embedding_lsh_incremental(
            batch_df,
            state_dir,
            batch_id,
            id_col,
            vec_col,
            threshold,
            num_planes,
            num_tables,
            dim,
        )
        pairs.write.mode("overwrite").parquet(
            append_path(out_dir, batch_id)
        )

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_dedup_verdicts(spark, out_dir: str) -> DataFrame:
    """Union of all per-batch verdict partitions written by
    streaming_dedup_exact. Raises a clear ValueError when no verdict
    partitions exist (instead of the opaque empty-glob read error)."""
    paths = appends_below(out_dir)
    if not paths:
        raise ValueError(
            f"read_dedup_verdicts: no verdict partitions under {out_dir}"
        )
    return read_parquet_state(spark, *paths)
