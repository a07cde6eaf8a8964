"""Incremental histogram state — fixed-edge value histograms folded
batch-by-batch into a persisted, versioned state, powering cross-run
drift monitoring (functions/drift.py) without ever re-reading history.

This is the distribution member of the persisted-state family (dedup
fingerprints in dedup_state.py, MG counters in frequency_state.py,
the sample reservoir in sample_state.py): because the bin edges are
FROZEN at state creation (the PSI convention — see
functions/drift.py::equal_width_bin), per-batch histograms are exact
integer counts that merge by addition, so the accumulated state is
bit-identical to the one-shot histogram of the full corpus (the q203
oracle) and stays O(bins) forever regardless of how many batches
stream through. Each apply is one linear scan of the NEW batch + an
O(bins) state merge + an O(bins) versioned write (``v<batch>`` dirs —
a replayed batch overwrites its own version reading only versions
below it, idempotent under at-least-once delivery).

The edges (lo, hi, bins) ride in the state rows, so drift readers
need no side channel and a mis-parameterized apply fails loudly
instead of silently merging incompatible histograms (the bloom-state
(m, k) treatment of dedup_state.py:393).

Reference parity note: the reference (a DB-API cursor wrapper) has no
statistics machinery; this extends the suite's incremental-state
family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.util import read_parquet_state
from ..state.store import commit_version, latest_below, read_latest

__all__ = [
    "category_counts_incremental",
    "chi2_against_state",
    "embedding_drift_against_state",
    "embedding_moments_incremental",
    "histogram_incremental",
    "read_embedding_state",
    "read_histogram_state",
    "read_category_state",
    "psi_against_state",
    "streaming_category_gate",
]


def _latest_version_meta(
    subdir: str, batch_id: int, columns: list[str]
) -> dict | None:
    """One row's named columns from the latest complete state version
    strictly below *batch_id*, read DRIVER-SIDE from a parquet footer
    + first row group (pyarrow) — the per-batch parameter probe
    (edges / column name / dim) without the .first() Spark job the
    fold used to pay on every apply. None when no version exists;
    raises loudly on a version with no rows (nothing to validate
    against — the .first() form would have crashed there too)."""
    import pyarrow.parquet as _pq

    from ..functions.util import list_fileinfos

    latest = latest_below(subdir, batch_id)
    if latest is None:
        return None
    vdir = latest[1]
    fs, infos = list_fileinfos(vdir)
    for p in sorted(
        i.path
        for i in infos
        if i.is_file and i.base_name.endswith(".parquet")
    ):
        with fs.open_input_file(p) as f:
            pf = _pq.ParquetFile(f)
            if pf.metadata.num_rows:
                t = pf.read_row_group(0, columns=columns)
                return {c: t[c][0].as_py() for c in columns}
    raise ValueError(
        f"state version {vdir} has no rows — cannot validate "
        "fold parameters against an empty state"
    )


def histogram_incremental(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    col: str,
    lo: float,
    hi: float,
    bins: int = 32,
    state_partitions: int = 1,
) -> DataFrame:
    """Fold *new_df*'s ``col`` values into the persisted histogram
    state and return the updated state ``(bin, cnt, lo, hi, bins)``.
    Counts are exact (clamped equal-width bins — out-of-range drift
    lands in the edge bins, it is never dropped); merging is integer
    addition, so sequential applies equal the one-shot histogram of
    the union (oracle-verified by q203). Raises if the persisted
    state was built with different edges."""
    from ..functions.drift import histogram_counts

    spark = new_df.sparkSession
    subdir = os.path.join(state_dir, "hist")
    lo_f, hi_f, bins_i = float(lo), float(hi), int(bins)
    delta = histogram_counts(new_df, col, lo_f, hi_f, bins_i)
    prior = read_latest(spark, subdir, batch_id)
    if prior is not None:
        meta = _latest_version_meta(subdir, batch_id, ["lo", "hi", "bins"])
        if (meta["lo"], meta["hi"], int(meta["bins"])) != (
            lo_f,
            hi_f,
            bins_i,
        ):
            raise ValueError(
                f"histogram_incremental: state at {subdir} has edges "
                f"(lo={meta['lo']}, hi={meta['hi']}, bins={meta['bins']}) "
                f"— got (lo={lo_f}, hi={hi_f}, bins={bins_i})"
            )
        merged = (
            delta.unionByName(prior.select("bin", "cnt"))
            .groupBy("bin")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = delta
    state = merged.select(
        "bin",
        "cnt",
        F.lit(lo_f).alias("lo"),
        F.lit(hi_f).alias("hi"),
        F.lit(bins_i).cast("long").alias("bins"),
    )
    return read_parquet_state(
        spark,
        commit_version(state.repartition(state_partitions), subdir, batch_id),
    )


def read_histogram_state(spark, state_dir: str, batch_id: int) -> DataFrame:
    """Newest persisted histogram state strictly below *batch_id* —
    what a replayed batch (or a drift reader) sees."""
    subdir = os.path.join(state_dir, "hist")
    out = read_latest(spark, subdir, batch_id)
    if out is None:
        raise ValueError(
            f"read_histogram_state: no state versions under {subdir}"
        )
    return out


def category_counts_incremental(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    col: str,
    state_partitions: int = 1,
) -> DataFrame:
    """The CATEGORICAL member of this family: fold *new_df*'s ``col``
    value counts into the persisted category state and return the
    updated state ``(category, cnt, col)``. Exact integer counts merge
    by addition, so the accumulated state is bit-identical to the
    one-shot count of the union — the histogram contract without
    edges (categories are their own bins; a category first seen in
    batch N simply appears then). State stays O(distinct categories)
    for the curation columns this is for (source, language, license —
    10s to 1000s of values), regardless of batch count; the column
    name rides in the rows so a mis-pointed apply fails loudly instead
    of silently merging different columns' counts. NULLs count under
    their own category (a null-rate shift IS drift). Versioned
    ``v<batch>`` writes — replay-idempotent like every state here."""
    spark = new_df.sparkSession
    subdir = os.path.join(state_dir, "cats")
    delta = (
        new_df.groupBy(F.col(col).alias("category"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    prior = read_latest(spark, subdir, batch_id)
    if prior is not None:
        meta = _latest_version_meta(subdir, batch_id, ["col"])
        if meta["col"] != col:
            raise ValueError(
                f"category_counts_incremental: state at {subdir} counts "
                f"column {meta['col']!r} — got {col!r}"
            )
        merged = (
            delta.unionByName(prior.select("category", "cnt"))
            .groupBy("category")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = delta
    state = merged.select("category", "cnt", F.lit(col).alias("col"))
    return read_parquet_state(
        spark,
        commit_version(state.repartition(state_partitions), subdir, batch_id),
    )


def read_category_state(spark, state_dir: str, batch_id: int) -> DataFrame:
    """Newest persisted category state strictly below *batch_id*."""
    subdir = os.path.join(state_dir, "cats")
    out = read_latest(spark, subdir, batch_id)
    if out is None:
        raise ValueError(
            f"read_category_state: no state versions under {subdir}"
        )
    return out


def chi2_against_state(
    new_df: DataFrame, state_dir: str, batch_id: int
) -> DataFrame:
    """Chi-square of the NEW batch's categorical distribution against
    the accumulated state — the categorical admission gate beside
    psi_against_state (a curation loop monitors source/language/
    license mixes across vintages exactly like its numeric columns):
    ``(category, cnt_a, cnt_b, chi2_cell, chi2_total)`` where side a
    is the state, side b the candidate batch. The monitored column
    comes from the state rows (no side channel — read driver-side from
    the state version's footer, the same probe the fold uses: the
    ``.first()`` Spark job this replaces ran on every gate call); cost
    is one scan of the new batch + O(categories)."""
    from ..functions.drift import chi2_report

    spark = new_df.sparkSession
    state = read_category_state(spark, state_dir, batch_id)
    col = _latest_version_meta(
        os.path.join(state_dir, "cats"), int(batch_id), ["col"]
    )["col"]
    new_counts = (
        new_df.groupBy(F.col(col).alias("category"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return chi2_report(state.select("category", "cnt"), new_counts)


def embedding_moments_incremental(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    vec_col: str = "embedding",
    state_partitions: int = 1,
) -> DataFrame:
    """The EMBEDDING member of this family: fold *new_df*'s vectors
    into persisted per-dimension first moments ``(pos, n, s, dim)``
    (1-based position, count, component sum) — the state behind
    centroid-drift monitoring of an embedding corpus across vintages
    (an encoder change, a scraper shift, or a domain-mix move shows up
    as the centroid walking before any downstream metric does).

    Sums accumulate as DECIMAL(38,10): every component is cast to
    DECIMAL(30,10) BEFORE summation, so per-batch sums are exact and
    order/partitioning-independent (a double sum's partial-merge order
    would make the state hash-unstable — the covariance module's
    discipline applied to a persisted artifact), and merging with
    prior state is exact decimal addition — sequential applies equal
    the one-shot moments of the union bit-for-bit. State is O(dim)
    forever; the dimension rides in the rows and a mismatched apply
    fails loudly. Versioned ``v<batch>`` writes, replay-idempotent."""
    spark = new_df.sparkSession
    subdir = os.path.join(state_dir, "emb")
    # one combinable agg over the WHOLE batch, not a first-row peek: a
    # ragged batch (mixed vector lengths) must fail loudly here —
    # posexplode would otherwise accumulate different n per position
    # and silently skew the per-dimension means downstream
    d0 = new_df.agg(
        F.min(F.size(F.col(vec_col))).alias("dmin"),
        F.max(F.size(F.col(vec_col))).alias("dmax"),
    ).first()
    if d0 is not None and d0["dmin"] is None:
        d0 = None  # empty batch: min/max over zero rows are NULL
    if d0 is not None and int(d0["dmin"]) != int(d0["dmax"]):
        raise ValueError(
            "embedding_moments_incremental: ragged batch — vector "
            f"sizes range {d0['dmin']}..{d0['dmax']} (must be uniform)"
        )
    prior = read_latest(spark, subdir, batch_id)
    if d0 is None:
        # empty batch: carry the prior state forward unchanged as this
        # batch's version (the ledger stays dense); with no prior there
        # is nothing meaningful to persist — fail loudly
        if prior is None:
            raise ValueError(
                "embedding_moments_incremental: empty batch and no "
                f"prior state under {subdir}"
            )
        return read_parquet_state(
            spark,
            commit_version(
                prior.repartition(state_partitions), subdir, batch_id
            ),
        )
    dim = int(d0["dmin"])
    delta = (
        new_df.select(F.posexplode(vec_col).alias("pos0", "val"))
        .groupBy((F.col("pos0") + 1).alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast("decimal(30,10)")).alias("s"),
        )
    )
    if prior is not None:
        meta = _latest_version_meta(subdir, batch_id, ["dim"])
        if int(meta["dim"]) != dim:
            raise ValueError(
                f"embedding_moments_incremental: state at {subdir} has "
                f"dim={meta['dim']} — got dim={dim}"
            )
        merged = (
            delta.select("pos", "n", "s")
            .unionByName(prior.select("pos", "n", "s"))
            .groupBy("pos")
            .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        )
    else:
        merged = delta
    state = merged.select(
        "pos",
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("decimal(38,10)").alias("s"),
        F.lit(dim).cast("int").alias("dim"),
    )
    return read_parquet_state(
        spark,
        commit_version(state.repartition(state_partitions), subdir, batch_id),
    )


def read_embedding_state(spark, state_dir: str, batch_id: int) -> DataFrame:
    """Newest persisted embedding-moment state strictly below
    *batch_id*."""
    subdir = os.path.join(state_dir, "emb")
    out = read_latest(spark, subdir, batch_id)
    if out is None:
        raise ValueError(
            f"read_embedding_state: no state versions under {subdir}"
        )
    return out


def embedding_drift_against_state(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Centroid drift of the NEW batch's embeddings against the
    accumulated moments — the embedding admission gate beside the
    numeric (PSI/KS) and categorical (chi-square) ones:
    ``(pos, mean_a, mean_b, shift, centroid_cos)`` where side a is the
    state centroid, side b the candidate batch's, shift = mean_b -
    mean_a (6dp), and centroid_cos the cosine between the two mean
    vectors (4dp — a centroid that stops pointing the same way is the
    cheapest possible encoder/domain-shift alarm). Means divide the
    exact decimal sums as doubles and round through DECIMAL(30,10)
    (the cross-engine float discipline); the cosine's d-term sums
    accumulate as exact decimals so the result is partitioning-
    independent. Cost: one scan of the new batch + O(dim)."""
    from pyspark.sql.window import Window

    spark = new_df.sparkSession
    state = read_embedding_state(spark, state_dir, batch_id)
    a = state.select(
        "pos",
        F.round(
            (F.col("s").cast("double") / F.col("n")).cast(
                "decimal(30,10)"
            ),
            6,
        )
        .cast("double")
        .alias("mean_a"),
    )
    b = (
        new_df.select(F.posexplode(vec_col).alias("pos0", "val"))
        .groupBy((F.col("pos0") + 1).alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum(F.col("val").cast("decimal(30,10)")).alias("sb"),
        )
        .select(
            "pos",
            F.round(
                (F.col("sb").cast("double") / F.col("nb")).cast(
                    "decimal(30,10)"
                ),
                6,
            )
            .cast("double")
            .alias("mean_b"),
        )
    )
    j = a.join(b, "pos")
    # O(dim) rows from here on: exact-decimal dot/norm sums make the
    # cosine independent of partitioning (the unbounded window is a
    # deliberate tiny-frame op, psi_report's contract)
    dot = F.sum((F.col("mean_a") * F.col("mean_b")).cast("decimal(30,10)"))
    na2 = F.sum((F.col("mean_a") * F.col("mean_a")).cast("decimal(30,10)"))
    nb2 = F.sum((F.col("mean_b") * F.col("mean_b")).cast("decimal(30,10)"))
    w = Window.partitionBy()
    return j.select(
        "pos",
        "mean_a",
        "mean_b",
        F.round(
            (F.col("mean_b") - F.col("mean_a")).cast("decimal(30,10)"), 6
        )
        .cast("double")
        .alias("shift"),
        F.round(
            (
                dot.over(w).cast("double")
                / (
                    F.sqrt(na2.over(w).cast("double"))
                    * F.sqrt(nb2.over(w).cast("double"))
                )
            ).cast("decimal(30,10)"),
            4,
        )
        .cast("double")
        .alias("centroid_cos"),
    )


def streaming_category_gate(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    col: str,
) -> None:
    """STREAMING categorical admission gate — the chi-square gate run
    per micro-batch against the MOVING accumulated state, then the
    batch folded in (the continuously-curating corpus loop:
    streaming_dedup_exact's ledger composed with the drift family):
    each availableNow micro-batch (micro-batch id = state batch id, so
    replays overwrite both their gate verdict and their state version
    — idempotent under at-least-once) first scores
    ``chi2_against_state`` against the counts accumulated from every
    EARLIER batch, writes the verdict ``(batch, n_rows, chi2_total)``
    to ``out_dir/batch=<id>``, and then merges its own counts via
    ``category_counts_incremental``. The first batch has no prior
    state — it folds in silently with no verdict (nothing to gate
    against). Per-batch cost: one scan of the batch + O(categories).

    Policy (quarantine vs admit on a hot chi-square) is the caller's —
    the gate is the measurement, and recording it BEFORE the merge is
    what makes a post-hoc audit of 'which vintage moved the mix'
    possible at all."""
    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # empty micro-batch: nothing to gate or fold
        try:
            # n_rows rides the gate's own action via observe(): the
            # chi-square aggregates every batch row, so the count fills
            # during the SAME job — the separate full-scan count()
            # this replaces ran per micro-batch (plus the limit-1
            # isEmpty probe above replacing the empty-check half)
            from pyspark.sql import Observation

            obs = Observation()
            observed = batch_df.observe(
                obs, F.count(F.lit(1)).alias("__n")
            )
            gate = chi2_against_state(observed, state_dir, batch_id)
            total = gate.select("chi2_total").first()
            rows = [
                (
                    int(batch_id),
                    int(obs.get["__n"]),
                    float(total["chi2_total"]),
                )
            ]
        except ValueError:
            rows = []  # first batch: no prior state to score against
        if rows:
            # the batch id is the partition DIRECTORY (batch=<id>), so
            # the written file must not carry a `batch` data column —
            # partition discovery at read time supplies it. The verdict
            # is ONE driver-known row: persist it driver-side (pyarrow,
            # layout-identical to the Spark write this replaces — one
            # data file, _SUCCESS last, overwrite semantics)
            import pyarrow as _pa

            from ..functions.util import write_sidecar_table

            write_sidecar_table(
                os.path.join(out_dir, f"batch={int(batch_id)}"),
                _pa.table(
                    {
                        "n_rows": _pa.array(
                            [int(rows[0][1])], _pa.int64()
                        ),
                        "chi2_total": _pa.array(
                            [float(rows[0][2])], _pa.float64()
                        ),
                    }
                ),
            )
        category_counts_incremental(batch_df, state_dir, batch_id, col)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def psi_against_state(
    new_df: DataFrame,
    state_dir: str,
    batch_id: int,
    col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """PSI of the NEW batch against the accumulated distribution —
    the admission gate a pipeline runs before folding a batch in:
    ``(bin, cnt_a, cnt_b, psi_bin, psi_total)`` where side a is the
    state, side b the candidate batch. Edges come from the state rows
    (no side channel); cost is one scan of the new batch + O(bins)."""
    from ..functions.drift import histogram_counts, psi_report

    spark = new_df.sparkSession
    state = read_histogram_state(spark, state_dir, batch_id)
    meta = state.select("lo", "hi", "bins").first()
    new_hist = histogram_counts(
        new_df, col, float(meta["lo"]), float(meta["hi"]), int(meta["bins"])
    )
    return psi_report(
        state.select("bin", "cnt"), new_hist, smoothing=smoothing
    )
