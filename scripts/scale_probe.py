"""Scale probe: run the scale-critical operators on synthetic data 20-60x
the bench SF and record wall-clock + throughput, so the 100 TB claims in
SCALE_NOTES.md rest on measured scaling behaviour, not just plan shapes.

The probe generates its own synthetic corpus (this is a performance
probe, not a correctness oracle — the declared queries still run only
on the driver's testdata), sized so every operator's work is dominated
by real compute rather than fixed overhead:

- 1M documents (~55 chars) for fingerprinting/dedup scans
- 200k x 64-dim vectors for LSH / IVF ANN

For each operator it reports rows/sec and the ratio to the sf0.1 rate —
a LINEAR operator should hold its rate (ratio ~1); a quadratic one
collapses. Writes SCALE_PROBE.md.

Usage: python scripts/scale_probe.py [--docs N] [--vecs N]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--vecs", type=int, default=200_000)
    ap.add_argument(
        "--only",
        default=None,
        help="substring filter: run only matching probes and print "
        "their rows instead of rewriting SCALE_PROBE.md (for "
        "appending newly added probes without re-timing the world)",
    )
    args = ap.parse_args()

    from etlhelper_spark.session import get_session

    spark = get_session("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="ehs_scale_")
    docs_path = os.path.join(tmp, "docs")
    vecs_path = os.path.join(tmp, "vecs")

    # --- synthesize --------------------------------------------------
    # ~55-char pseudo-text with word structure (so shingles/tokens are
    # realistic) and a planted 1% duplicate rate for the dedup ops.
    words = F.array(*[F.lit(w) for w in (
        "table scan join merge sort hash value key row batch window "
        "stream filter group agg spark data query part line fast slow"
    ).split()])
    base = spark.range(args.docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.element_at(
                    words,
                    (F.pmod(F.xxhash64(F.col("id") + F.lit(i)), F.lit(22)) + 1)
                    .cast("int"),
                )
                for i in range(10)
            ],
        ).alias("text"),
    )
    dups = base.where(F.pmod("doc_id", F.lit(100)) == 0).select(
        (F.col("doc_id") + args.docs).alias("doc_id"), "text"
    )
    base.unionAll(dups).write.mode("overwrite").parquet(docs_path)

    spark.range(args.vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: (
                F.pmod(F.xxhash64(F.col("id") * 64 + i), F.lit(2000)).cast(
                    "double"
                )
                / 1000.0
                - 1.0
            ),
        ).alias("embedding"),
    ).write.mode("overwrite").parquet(vecs_path)

    docs = spark.read.parquet(docs_path)
    vecs = spark.read.parquet(vecs_path)
    n_docs = docs.count()
    n_vecs = vecs.count()

    results: list[tuple[str, float, int, float]] = []

    def probe(name: str, rows: int, fn) -> None:
        if args.only and args.only not in name:
            return
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        results.append((name, round(dt, 2), rows, round(rows / dt)))
        print(f"# {name}: {dt:.2f}s ({rows} rows in, {out} out)",
              file=sys.stderr)

    from etlhelper_spark.functions.dedup import (
        dedup_exact,
        minhash_lsh_candidates,
    )
    from etlhelper_spark.functions.similarity import lsh_bucket_topk
    from etlhelper_spark.functions.text import (
        quality_logit,
        winnow_fingerprints,
    )

    probe(
        "winnow_fingerprints scan",
        n_docs,
        lambda: docs.select(
            F.sum(F.size(winnow_fingerprints(F.col("text")))).alias("s")
        ).first()["s"],
    )
    probe(
        "winnow_fingerprints scan (xxhash64)",
        n_docs,
        lambda: docs.select(
            F.sum(
                F.size(
                    winnow_fingerprints(F.col("text"), hash_fn="xxhash64")
                )
            ).alias("s")
        ).first()["s"],
    )
    probe(
        "quality_logit scan",
        n_docs,
        lambda: docs.select(
            F.sum(quality_logit(F.col("text"))).alias("s")
        ).first()["s"],
    )
    probe(
        "exact dedup",
        n_docs,
        lambda: dedup_exact(docs, "text", "doc_id").count(),
    )
    from etlhelper_spark.functions.packing import pack_documents

    probe(
        "sequence packing (64 shards, 2048 budget)",
        n_docs,
        lambda: pack_documents(
            docs, budget=2048, n_shards=64
        ).count(),
    )
    from etlhelper_spark.functions.dedup import phonetic_block_join

    name_words = F.split(F.lit("B R A N D O L E S T I M K C W"), " ")
    names = spark.range(n_docs).select(
        F.col("id"),
        F.concat_ws(
            "",
            *[
                F.element_at(
                    name_words,
                    (
                        F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(14))
                        + 1
                    ).cast("int"),
                )
                for i in range(7)
            ],
        ).alias("s"),
    ).localCheckpoint()
    probe(
        "phonetic block join (self, bucket cap 64)",
        2 * n_docs,
        lambda: phonetic_block_join(names, names, max_bucket=64).count(),
    )
    probe(
        "minhash LSH candidates",
        n_docs,
        lambda: minhash_lsh_candidates(
            docs, "doc_id", "text", shingle_size=3,
            num_hashes=32, bands=8,
        ).count(),
    )

    # edit-distance join, deliberately adversarial: every name shares
    # a 9-char stem and differs only in the digit tail — ZERO rare
    # grams, the corpus shape that kills any gram-prefix filter. The
    # deletes (SymSpell) path must hold a linear rate here because its
    # equi-join key is the full-entropy variant string.
    from etlhelper_spark.functions.dedup import edit_distance_join

    def _edit_join_probe(d: int, n: int) -> int:
        master = spark.range(n).select(
            F.col("id"),
            F.concat(F.lit("Customer#"), F.lpad("id", 9, "0")).alias("s"),
        )
        dirty = master.select(
            (F.col("id") + n).alias("id"),
            F.expr(
                "concat(substring(s, 1, 9 + id % 8), 'X',"
                " substring(s, 11 + id % 8))"
            ).alias("s"),
        )
        return edit_distance_join(dirty, master, max_dist=d).count()

    probe(
        "edit-distance join d=1 (1M dirty x 1M master, shared stem)",
        2 * args.docs,
        lambda: _edit_join_probe(1, args.docs),
    )
    # d=2 runs at 1/10 scale: dense consecutive ids put ~700 masters
    # within 2 edits of every dirty name, so the OUTPUT (not the
    # filter) is what grows — ~70M pairs at 100k rows already
    probe(
        "edit-distance join d=2 (100k x 100k, shared stem, dense ids)",
        2 * args.docs // 10,
        lambda: _edit_join_probe(2, args.docs // 10),
    )

    # linkage-state lifecycle at the same adversarial corpus: persist
    # the 1M-master variant index once, link a 100k feed against the
    # parquet-resident state, then erase 10k masters (versioned
    # anti-join rewrite) and re-link
    from etlhelper_spark.operators.linkage_state import (
        append_linkage_masters,
        forget_from_linkage_state,
        link_batch,
    )

    linkage_dir = os.path.join(tmp, "linkage_state")

    def _linkage_build_probe() -> int:
        n = args.docs
        master = spark.range(n).select(
            F.col("id"),
            F.concat(F.lit("Customer#"), F.lpad("id", 9, "0")).alias("s"),
        )
        append_linkage_masters(master, linkage_dir, 0, max_dist=1)
        return 1

    def _linkage_feed(n_feed: int):
        return spark.range(n_feed).select(
            (F.col("id") + args.docs).alias("id"),
            F.expr(
                "concat(substring(concat('Customer#', lpad(id, 9, '0')),"
                " 1, 9 + id % 8), 'X',"
                " substring(concat('Customer#', lpad(id, 9, '0')),"
                " 11 + id % 8))"
            ).alias("s"),
        )

    probe(
        "linkage index build (1M masters, persisted variants)",
        args.docs,
        _linkage_build_probe,
    )
    probe(
        "linkage link_batch (100k feed vs 1M-master state)",
        args.docs // 10,
        lambda: link_batch(_linkage_feed(args.docs // 10), linkage_dir).count(),
    )
    probe(
        "linkage erase 10k masters + re-link (versioned rewrite)",
        args.docs,
        lambda: (
            forget_from_linkage_state(
                spark,
                linkage_dir,
                spark.range(0, args.docs, 100).select(F.col("id")),
            ),
            link_batch(_linkage_feed(args.docs // 100), linkage_dir).count(),
        )[-1],
    )
    queries = vecs.where(F.col("vec_id") < 32)
    probe(
        "LSH bucket top-k (32 queries)",
        n_vecs,
        lambda: lsh_bucket_topk(
            queries, vecs, k=5, num_planes=12, num_tables=8,
        ).count(),
    )
    from etlhelper_spark.functions.ann_index import (
        build_ivf_index,
        query_ivf_index,
    )

    idx_dir = os.path.join(tmp, "ivf")
    probe(
        "IVF index build (nlist=32)",
        n_vecs,
        lambda: build_ivf_index(vecs, idx_dir, nlist=32),
    )
    probe(
        "IVF probe (32 queries, nprobe=4)",
        n_vecs,
        lambda: query_ivf_index(
            spark, idx_dir, queries, k=5, nprobe=4
        ).count(),
    )

    # semantic dedup (round-4 fix): derived k keeps expected cluster
    # size fixed, so the within-cluster pairwise stage is
    # O(n × target_cluster_size) — must hold its rows/sec at 100× the
    # bench vector count. End-to-end including the Lloyd rounds (which
    # take the Arrow-batched argmax path at the derived k ≈ n/256).
    from etlhelper_spark.functions.dedup import semantic_dedup

    probe(
        "semantic dedup (derived k, end-to-end)",
        n_vecs,
        lambda: semantic_dedup(
            vecs, "vec_id", "embedding", threshold=0.95, n=n_vecs
        ).count(),
    )
    # worst case: EVERY vector in one planted cluster — the
    # max_cluster cap must re-shard it into bounded sub-tasks instead
    # of one quadratic task (the round-3 scale-killer, reproduced then
    # capped).
    planted = vecs.select(
        F.col("vec_id").alias("id"), F.lit(0).alias("cluster_id")
    )
    probe(
        "semantic dedup (planted degenerate cluster, capped)",
        n_vecs,
        lambda: semantic_dedup(
            vecs,
            "vec_id",
            "embedding",
            threshold=0.95,
            assignments=planted,
            max_cluster=4096,
        ).count(),
    )

    # embedding covariance (round-4): full 64x64 Gram aggregation —
    # one partial per partition, corpus never shuffles; must scale
    # like a plain scan.
    from etlhelper_spark.functions.similarity import embedding_covariance

    probe(
        "embedding covariance (64 dims, Gram partials)",
        n_vecs,
        lambda: embedding_covariance(vecs, "embedding").count(),
    )

    # streaming CDC rollup (round-4): 1M-row insert/delete feed
    # drained as 4 micro-batches into versioned state — the per-batch
    # merge is O(batch) + |state|, so rows/sec must hold.
    import os as _os

    from etlhelper_spark.operators.ivm import (
        read_rollup_state,
        streaming_cdc_rollup,
    )

    def _cdc_probe(tag: str, hot: bool):
        feed_dir = _os.path.join(tmp, f"cdc_feed_{tag}")
        state_dir = _os.path.join(tmp, f"cdc_state_{tag}")
        ckpt_dir = _os.path.join(tmp, f"cdc_ckpt_{tag}")
        n_ev = 1_000_000
        uniform = F.pmod(F.xxhash64("id"), F.lit(200))
        # hot-key distribution: ONE group takes 20% of all events —
        # the skew case. The net-partial aggregate is map-side
        # combinable, so the hot group reduces to one partial per
        # input partition before the shuffle; rows/sec must hold.
        g = (
            F.when(F.pmod(F.xxhash64(F.col("id") + 3), F.lit(5)) == 0,
                   F.lit(0)).otherwise(uniform)
            if hot
            else uniform
        )
        ev = spark.range(n_ev).select(
            F.col("id").alias("event_id"),
            g.alias("g"),
            F.pmod(F.xxhash64(F.col("id") + 7), F.lit(10_000)).alias("v"),
        )
        feed = ev.withColumn("op", F.lit("I")).unionByName(
            ev.where(F.pmod("event_id", F.lit(7)) == 0).withColumn(
                "op", F.lit("D")
            )
        )
        feed.repartition(4).write.mode("overwrite").parquet(feed_dir)
        stream = (
            spark.readStream.schema(spark.read.parquet(feed_dir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        _os.makedirs(state_dir, exist_ok=True)
        streaming_cdc_rollup(
            stream, ["g"], {"sum_v": "v"}, state_dir, ckpt_dir
        )
        return read_rollup_state(spark, state_dir).count()

    probe("streaming CDC rollup (1M events, 4 batches)", 1_000_000,
          lambda: _cdc_probe("uni", hot=False))
    probe("streaming CDC rollup (planted hot key: 20% one group)",
          1_000_000, lambda: _cdc_probe("hot", hot=True))

    # cogroup-applyInPandas under a planted hot key: one user owns 20%
    # of both inputs. Bucketed cogrouping (q161's shape, derived bucket
    # count) bounds per-invocation state by BUCKET size — the hot
    # bucket is ~20%+1/buckets of the input in one pandas call, where
    # the per-key reconciliation runs vectorized; throughput must not
    # collapse vs the uniform-key rate implied by the CDC rows.
    def _cogroup_skew_probe():
        import pandas as pd

        n = 1_000_000
        n_keys = 50_000
        buckets = max(4, min(4096, -(-n_keys // 32)))
        hot_key = (
            F.when(F.pmod(F.xxhash64(F.col("id") + 11), F.lit(5)) == 0,
                   F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys)))
        )
        left = spark.range(n).select(
            hot_key.alias("k"),
            F.pmod(F.xxhash64(F.col("id") + 1), F.lit(10_000)).alias("v"),
        ).withColumn("bkt", F.pmod("k", F.lit(buckets)))
        right = spark.range(n).select(
            hot_key.alias("k"),
            F.pmod(F.xxhash64(F.col("id") + 2), F.lit(10_000)).alias("v"),
        ).withColumn("bkt", F.pmod("k", F.lit(buckets)))

        def merge(lpdf, rpdf):
            la = (
                pd.DataFrame({"k": lpdf["k"], "v": lpdf["v"]})
                .groupby("k")
                .agg(n_l=("v", "size"), sum_l=("v", "sum"))
            )
            ra = (
                pd.DataFrame({"k": rpdf["k"], "v": rpdf["v"]})
                .groupby("k")
                .agg(n_r=("v", "size"), sum_r=("v", "sum"))
            )
            out = la.join(ra, how="outer").fillna(0).reset_index()
            for c in ("n_l", "n_r", "sum_l", "sum_r"):
                out[c] = out[c].astype("int64")
            return out

        return (
            left.groupBy("bkt")
            .cogroup(right.groupBy("bkt"))
            .applyInPandas(
                merge, "k long, n_l long, n_r long, sum_l long, sum_r long"
            )
            .count()
        )

    probe("cogroup merge (planted hot key: 20% one user, 2x1M rows)",
          2_000_000, _cogroup_skew_probe)

    # incremental cross-run dedup (round-5): batch 2 deduped against
    # batch 1's persisted state — per-batch cost must stay O(batch) +
    # one state join, i.e. the two applies together should track the
    # one-shot operators' rates.
    from etlhelper_spark.operators.dedup_state import (
        dedup_exact_incremental,
        minhash_incremental,
    )

    def _incr_exact_probe():
        sd = _os.path.join(tmp, "state_exact")
        b0 = docs.where(F.pmod("doc_id", F.lit(2)) == 0)
        b1 = docs.where(F.pmod("doc_id", F.lit(2)) == 1)
        n0 = dedup_exact_incremental(b0, sd, 0).count()
        n1 = dedup_exact_incremental(b1, sd, 1).count()
        return n0 + n1

    probe("incremental exact dedup (2 sequential batches)", n_docs,
          _incr_exact_probe)

    def _incr_minhash_probe():
        sd = _os.path.join(tmp, "state_bands")
        b0 = docs.where(F.pmod("doc_id", F.lit(2)) == 0)
        b1 = docs.where(F.pmod("doc_id", F.lit(2)) == 1)
        n0 = minhash_incremental(
            b0, sd, 0, num_hashes=32, bands=8
        ).count()
        n1 = minhash_incremental(
            b1, sd, 1, num_hashes=32, bands=8
        ).count()
        return n0 + n1

    probe("incremental minhash LSH (2 sequential batches)", n_docs,
          _incr_minhash_probe)

    from etlhelper_spark.operators.dedup_state import (
        compact_dedup_state,
        embedding_lsh_incremental,
    )

    def _incr_embed_probe():
        sd = _os.path.join(tmp, "state_embed")
        b0 = vecs.where(F.pmod("vec_id", F.lit(2)) == 0)
        b1 = vecs.where(F.pmod("vec_id", F.lit(2)) == 1)
        # 14 planes keep expected bucket occupancy ~6 reps at 100k
        # reps/batch so candidate volume stays ~linear
        n0 = embedding_lsh_incremental(
            b0, sd, 0, num_planes=14, num_tables=4
        ).count()
        n1 = embedding_lsh_incremental(
            b1, sd, 1, num_planes=14, num_tables=4
        ).count()
        return n0 + n1

    probe("incremental embedding LSH (2 sequential batches)", n_vecs,
          _incr_embed_probe)

    from etlhelper_spark.operators.cdc import snapshot_apply_incremental
    from etlhelper_spark.operators.dedup_state import (
        duplicate_clusters_incremental,
    )

    def _incr_clusters_probe():
        # 1M edges over ~70k star-shaped clusters (hub + ≤15 spokes) —
        # the operator's intended regime: dup clusters are
        # diameter-bounded near-cliques, so label propagation
        # converges in 2-3 rounds. Applied as two parity batches
        # through the contraction (many stars straddle the split).
        sd = _os.path.join(tmp, "state_cc")
        n_edges = 1_000_000
        hub = F.pmod(F.xxhash64("id"), F.lit(70_000)) * 16
        edges = spark.range(n_edges).select(
            hub.alias("id_a"),
            (hub + 1 + F.pmod(F.xxhash64(F.col("id") + 5), F.lit(14)))
            .alias("id_b"),
        )
        b0 = edges.where(F.pmod(F.col("id_a") + F.col("id_b"), F.lit(2)) == 0)
        b1 = edges.where(F.pmod(F.col("id_a") + F.col("id_b"), F.lit(2)) == 1)
        duplicate_clusters_incremental(b0, sd, 0).count()
        return duplicate_clusters_incremental(b1, sd, 1).count()

    probe("incremental connected components (1M edges, 2 batches)",
          1_000_000, _incr_clusters_probe)

    def _snapshot_probe():
        # 1M-change CDC feed (20% deletes, 100k keys) applied as two
        # parity batches into the tombstoned snapshot state
        sd = _os.path.join(tmp, "state_snap")
        feed = spark.range(1_000_000).select(
            F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("k"),
            F.col("id").alias("v"),
            F.when(F.pmod(F.xxhash64(F.col("id") + 9), F.lit(5)) == 0,
                   "D").otherwise("U").alias("op"),
            F.col("id").alias("seq"),
        )
        b0 = feed.where(F.pmod("seq", F.lit(2)) == 0)
        b1 = feed.where(F.pmod("seq", F.lit(2)) == 1)
        snapshot_apply_incremental(b0, sd, 0, ["k"], ["seq"])
        return snapshot_apply_incremental(b1, sd, 1, ["k"], ["seq"]).count()

    probe("CDC snapshot state (1M changes, 100k keys, 2 batches)",
          1_000_000, _snapshot_probe)

    def _compaction_probe():
        # fold the exact-dedup state appends into base and re-apply a
        # third batch against the compacted layout
        sd = _os.path.join(tmp, "state_exact")
        folded = compact_dedup_state(spark, sd, "exact")
        b2 = docs.where(F.pmod("doc_id", F.lit(4)) == 1)
        n = dedup_exact_incremental(b2, sd, 2).count()
        return (folded, n)

    probe("state compaction + post-compaction apply", n_docs,
          _compaction_probe)

    # round-6 additions: bloom-filtered state join, exact heavy
    # hitters, weighted sampling, PQ encode/ADC, IVF rebalance
    from etlhelper_spark.functions.pq import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    from etlhelper_spark.functions.util import heavy_hitters, weighted_sample
    from etlhelper_spark.operators.dedup_state import (
        dedup_exact_incremental_bloom,
    )

    def _bloom_probe():
        sd = _os.path.join(tmp, "state_bloom")
        b0 = docs.where(F.pmod("doc_id", F.lit(2)) == 0)
        b1 = docs.where(F.pmod("doc_id", F.lit(2)) == 1)
        n0 = dedup_exact_incremental_bloom(b0, sd, 0).count()
        n1 = dedup_exact_incremental_bloom(b1, sd, 1).count()
        return n0 + n1

    probe("incremental exact dedup + bloom pre-filter (2 batches)",
          n_docs, _bloom_probe)

    def _hh_probe():
        toks = docs.select(F.explode(F.split("text", " ")).alias("t"))
        return heavy_hitters(toks, "t", min_frac=0.001,
                             capacity=4096).count()

    probe("exact heavy hitters over tokens (MG + recount)",
          n_docs * 10, _hh_probe)

    probe("weighted sample top-1000 (E-S race)", n_docs,
          lambda: weighted_sample(
              docs.withColumn("w", F.length("text")), "w", 1000, "doc_id"
          ).count())

    def _pq_probe():
        books = pq_train(vecs, m_sub=4, k_codes=8, iterations=2)
        enc = pq_encode(vecs, books).localCheckpoint()
        n = enc.count()
        q = vecs.where("vec_id < 5")
        pq_adc_topk(enc, books, q, k=10).count()
        return n

    probe("PQ train + encode + ADC top-10 x 5 queries", n_vecs,
          _pq_probe)

    def _rebalance_probe():
        from etlhelper_spark.functions.ann_index import (
            build_ivf_index,
            rebalance_ivf_index,
        )

        path = _os.path.join(tmp, "ivf_rb")
        n, _nl = build_ivf_index(vecs, path, nlist=8)
        return rebalance_ivf_index(spark, path, max_list_size=n // 16)

    probe("IVF hot-list rebalance (8 lists -> cap n/16)", n_vecs,
          _rebalance_probe)

    # --- drift / quantile-state / export family ----------------------
    from etlhelper_spark.functions.drift import (
        histogram_counts,
        ks_2samp,
        psi_report,
    )
    from etlhelper_spark.operators.drift_state import histogram_incremental
    from etlhelper_spark.operators.export import (
        grouped_split,
        write_training_shards,
    )
    from etlhelper_spark.operators.quantile_state import (
        quantile_sketch_incremental,
    )

    vals = docs.select(
        "doc_id", ((F.col("doc_id") % 9973) / F.lit(7.0)).alias("value")
    ).localCheckpoint()

    def _psi_probe():
        a = vals.where(F.pmod("doc_id", F.lit(2)) == 0)
        b = vals.where(F.pmod("doc_id", F.lit(2)) == 1)
        ha = histogram_counts(a, "value", 0.0, 1425.0, 20)
        hb = histogram_counts(b, "value", 0.0, 1425.0, 20)
        return psi_report(ha, hb).count()

    probe("PSI drift (2 x 0.5M values, 20 bins)", n_docs, _psi_probe)

    def _ks_probe():
        a = vals.where(F.pmod("doc_id", F.lit(2)) == 0)
        b = vals.where(F.pmod("doc_id", F.lit(2)) == 1)
        return ks_2samp(a, b, "value").count()

    probe("exact KS (2 x 0.5M values, ~10k distinct)", n_docs, _ks_probe)

    def _hist_state_probe():
        sd = _os.path.join(tmp, "state_hist")
        st = None
        for i in range(3):
            st = histogram_incremental(
                vals.where(F.pmod("doc_id", F.lit(3)) == i),
                sd, i, "value", 0.0, 1425.0, bins=32,
            )
        return st.count()

    probe("incremental histogram state (3 batches)", n_docs,
          _hist_state_probe)

    def _kll_state_probe():
        sd = _os.path.join(tmp, "state_kll")
        st = None
        for i in range(3):
            st = quantile_sketch_incremental(
                vals.where(F.pmod("doc_id", F.lit(3)) == i),
                sd, i, "value",
            )
        return st.count()

    probe("incremental KLL quantile state (3 batches)", n_docs,
          _kll_state_probe)

    def _shard_probe():
        out = _os.path.join(tmp, "shards_out")
        write_training_shards(
            docs.select("doc_id"), out, ["doc_id"],
            rows_per_shard=100_000, seed=1,
        )
        return 1

    probe("deterministic shuffle + shard write (10 shards)", n_docs,
          _shard_probe)

    probe("leakage-free grouped split (assign + agg)", n_docs,
          lambda: grouped_split(
              vals, "doc_id", seed=5
          ).groupBy("split").count().count())

    # --- round-6 curation / tokenizer / quantization family ----------
    from pyspark.sql.window import Window as W

    from etlhelper_spark.functions.similarity import cosine_similarity
    from etlhelper_spark.operators.bpe_state import (
        apply_bpe_state,
        build_bpe_state,
    )

    def _span_dedup_probe():
        toks = docs.select(
            "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
        ).where(F.size("t") >= 8)
        g = toks.select(
            "doc_id",
            F.explode(F.transform(
                F.sequence(F.lit(1), F.size("t") - 7),
                lambda i: F.md5(F.concat_ws(" ", F.slice("t", i, 8))),
            )).alias("g"),
        )
        gp = g.groupBy("g", "doc_id").agg(F.count(F.lit(1)).alias("pc"))
        nd = F.count(F.lit(1)).over(W.partitionBy("g"))
        return (
            gp.withColumn("nd", nd)
            .groupBy("doc_id")
            .agg(F.sum(F.when(F.col("nd") >= 2, F.col("pc"))).alias("d"))
            .count()
        )

    def _bpe_probe():
        work = tempfile.mkdtemp(prefix="ehs_probe_bpe_")
        build_bpe_state(
            docs.where(F.pmod("doc_id", F.lit(3)) < 2), work, rounds=2
        )
        enc = apply_bpe_state(
            docs.where(F.pmod("doc_id", F.lit(3)) == 2), work
        )
        dw = docs.where(F.pmod("doc_id", F.lit(3)) == 2).select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("w"),
        )
        n = dw.join(enc, "w").groupBy("doc_id").agg(
            F.sum("n_sub")
        ).count()
        shutil.rmtree(work, ignore_errors=True)
        return n

    def _int8_probe():
        x = vecs.select(
            "vec_id",
            F.posexplode(
                F.col("embedding").cast("array<double>")
            ).alias("i", "x"),
        )
        stats = x.groupBy("i").agg(
            F.min("x").alias("mn"), F.max("x").alias("mx")
        )
        j = x.join(F.broadcast(stats), "i")
        code = F.floor(
            (F.col("x") - F.col("mn")) * 255.0
            / (F.col("mx") - F.col("mn")) + 0.5
        )
        err = F.col("x") - (
            F.col("mn") + code * (F.col("mx") - F.col("mn")) / 255.0
        )
        return (
            j.select("vec_id", err.alias("e"))
            .groupBy("vec_id")
            .agg(F.avg(F.col("e") * F.col("e")).alias("mse"))
            .count()
        )

    def _knn_vote_probe():
        q = vecs.where(F.col("vec_id") < 32).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        c = vecs.select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cv"),
            F.pmod("vec_id", F.lit(7)).alias("label"),
        )
        scored = (
            c.crossJoin(F.broadcast(q))
            .where(F.col("cid") != F.col("qid"))
            .select(
                "qid", "label",
                F.col("cid"),
                cosine_similarity(F.col("qv"), F.col("cv")).alias("sim"),
            )
        )
        r = scored.withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cid"))
            ),
        ).where(F.col("rnk") <= 10)
        return r.groupBy("qid", "label").count().count()

    def _mix_probe():
        tok = docs.select(
            F.pmod("doc_id", F.lit(10)).alias("source"),
            F.size(F.split("text", " ")).alias("n_tok"),
            F.md5(F.col("doc_id").cast("string")).alias("pri"),
            "doc_id",
        )
        budgets = tok.groupBy("source").agg(
            F.floor(F.sum("n_tok") * 0.5).alias("budget")
        )
        w = (
            W.partitionBy("source")
            .orderBy("pri", "doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        r = tok.join(F.broadcast(budgets), "source").withColumn(
            "cum_before", F.sum("n_tok").over(w) - F.col("n_tok")
        )
        return (
            r.where(F.col("cum_before") < F.col("budget"))
            .groupBy("source")
            .count()
            .count()
        )

    def _span_state_probe():
        from etlhelper_spark.operators.dedup_state import (
            span_dedup_incremental,
        )

        work = tempfile.mkdtemp(prefix="ehs_probe_spanstate_")
        span_dedup_incremental(
            docs.where(F.pmod("doc_id", F.lit(2)) == 0), work, 1
        ).count()
        out = span_dedup_incremental(
            docs.where(F.pmod("doc_id", F.lit(2)) == 1), work, 2
        ).count()
        shutil.rmtree(work, ignore_errors=True)
        return out

    probe("span dedup 8-gram coverage (1M docs)", n_docs,
          _span_dedup_probe)
    probe("incremental span-dedup state (2 sequential batches)",
          n_docs, _span_state_probe)
    probe("BPE train(2 rounds) + frozen encode (1M docs)", n_docs,
          _bpe_probe)
    probe("int8 quantization + error rollup", n_vecs, _int8_probe)
    probe("kNN label vote (32 queries, brute force)", n_vecs,
          _knn_vote_probe)
    probe("token-budget mixture (10 sources, windowed admit)", n_docs,
          _mix_probe)

    # --- adversarial mass duplication (round-7 probe) ----------------
    # 30% of the corpus byte-identical: every band bucket of the
    # planted text holds 0.3n members, so uncapped LSH is
    # output-quadratic BY CONSTRUCTION (0.3n choose 2 real pairs x
    # bands) — the guard must skip those buckets while the fuzzy tail
    # is unaffected, and the PPJoin/containment df-cap must engage the
    # same way. The planted corpus reuses the normal text generator
    # for 70% and one fixed body for the rest.
    adv_path = os.path.join(tmp, "adv_docs")
    n_adv = n_docs
    adv_base = spark.range(n_adv).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.pmod("id", F.lit(10)) < 3,
            F.lit("the planted mass duplicate body repeated verbatim "
                  "across thirty percent of the corpus"),
        )
        .otherwise(
            F.concat_ws(
                " ",
                *[
                    F.element_at(
                        words,
                        (
                            F.pmod(
                                F.xxhash64(F.col("id") * 7 + F.lit(i)),
                                F.lit(22),
                            )
                            + 1
                        ).cast("int"),
                    )
                    for i in range(10)
                ],
            )
        )
        .alias("text"),
    )
    adv_base.write.mode("overwrite").parquet(adv_path)
    adv = spark.read.parquet(adv_path)
    n_adv = adv.count()

    probe(
        "minhash LSH, 30% byte-identical, max_bucket=64",
        n_adv,
        lambda: minhash_lsh_candidates(
            adv, "doc_id", "text", shingle_size=3,
            num_hashes=32, bands=8, max_bucket=64,
        ).count(),
    )

    def _containment_probe():
        # the q215 kernel: distinct 5-gram digests, df cap 2..32, pair
        # join — the planted body's shingles all have df = 0.3n >> 32,
        # so the cap removes them before the join can fan out
        from pyspark.sql.window import Window as W

        toks = (
            adv.where(F.trim("text") != "")
            .select(
                "doc_id",
                F.split(F.trim(F.lower("text")), r"\s+").alias("t"),
            )
            .where(F.size("t") >= 5)
        )
        sh = (
            toks.select(
                "doc_id",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - 4),
                        lambda i: F.md5(
                            F.concat_ws(" ", F.slice("t", i, 5))
                        ),
                    )
                ).alias("g"),
            )
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("_c"))
            .select("doc_id", "g")
        )
        k = (
            sh.withColumn(
                "df", F.count(F.lit(1)).over(W.partitionBy("g"))
            )
            .where(F.col("df").between(2, 32))
            .select("doc_id", "g")
        )
        a = k.select(F.col("doc_id").alias("contained_id"), "g")
        b = k.select(F.col("doc_id").alias("container_id"), "g")
        return (
            a.join(b, "g")
            .where(F.col("contained_id") != F.col("container_id"))
            .groupBy("contained_id", "container_id")
            .agg(F.count(F.lit(1)).alias("inter"))
            .count()
        )

    probe(
        "containment pairs (df cap 2..32), 30% byte-identical",
        n_adv,
        _containment_probe,
    )

    def _ivfpq_probe():
        from etlhelper_spark.functions.ivfpq import (
            build_ivfpq_index,
            query_ivfpq_index,
        )

        d = os.path.join(tmp, "ivfpq")
        build_ivfpq_index(vecs, d, nlist=32, m_sub=8, k_codes=64)
        out = query_ivfpq_index(
            spark, d, queries, k=5, nprobe=8,
            refine=vecs, refine_factor=10,
        ).count()
        shutil.rmtree(d, ignore_errors=True)
        return out

    probe(
        "IVFPQ build + ADC probe + exact re-rank (32 queries)",
        n_vecs,
        _ivfpq_probe,
    )

    def _bpe64_probe():
        from etlhelper_spark.operators.bpe_state import (
            apply_bpe_state,
            build_bpe_state,
        )

        work = tempfile.mkdtemp(prefix="ehs_bpe64_probe_")
        try:
            build_bpe_state(docs, work, "text", rounds=64)
            return (
                apply_bpe_state(docs, work, "text")
                .agg(F.sum("n_sub"))
                .first()[0]
            )
        finally:
            shutil.rmtree(work, ignore_errors=True)

    probe("BPE train(64 rounds) + frozen encode (1M docs)", n_docs,
          _bpe64_probe)

    def _forget_probe():
        # right-to-be-forgotten at state scale: 1M-doc fingerprint
        # state, erase ~1% of survivors through the versioned rewrite
        from etlhelper_spark.operators.dedup_state import (
            dedup_exact_incremental,
            forget_from_dedup_state,
        )

        work = tempfile.mkdtemp(prefix="ehs_forget_probe_")
        try:
            dedup_exact_incremental(docs, work, 0)
            state = spark.read.parquet(os.path.join(work, "exact"))
            doomed = state.where(
                F.pmod("survivor_id", F.lit(100)) == 0
            ).select("survivor_id")
            return forget_from_dedup_state(spark, work, doomed)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    probe("dedup-state forget (~1% survivors, 1M-doc state)", n_docs,
          _forget_probe)

    def _filtered_ann_probe():
        # covering-index filtered search: attribute predicate pushed
        # into the pruned scan, 32 queries
        from etlhelper_spark.functions.ann_index import (
            build_ivf_index,
            query_ivf_index,
        )

        d = os.path.join(tmp, "ivf_filt")
        attrs = vecs.select(
            "vec_id", "embedding",
            F.pmod("vec_id", F.lit(5)).alias("cat"),
        )
        build_ivf_index(attrs, d, nlist=32, attr_cols=["cat"])
        out = query_ivf_index(
            spark, d, queries, k=5, nprobe=8,
            attr_filter=F.col("cat") == 2,
        ).count()
        shutil.rmtree(d, ignore_errors=True)
        return out

    probe("filtered ANN (covering IVF, pushed predicate, 32 queries)",
          n_vecs, _filtered_ann_probe)

    # --- round-8 additions: IVFPQ lifecycle at scale ---------------
    ivfpq_ing = os.path.join(tmp, "ivfpq_ing")

    def _ivfpq_ingest_probe():
        # 8 ingest batches onto the index: one (list, batch)
        # parquet cell per touched list per batch — the small-file
        # accumulation the compactor exists for
        from etlhelper_spark.functions.ivfpq import (
            append_ivfpq_index,
            build_ivfpq_index,
        )

        build_ivfpq_index(
            vecs.where(F.col("vec_id") % 9 == 0), ivfpq_ing,
            nlist=32, m_sub=8, k_codes=64,
        )
        total = 0
        for b in range(1, 9):
            total += append_ivfpq_index(
                vecs.where(F.col("vec_id") % 9 == b), ivfpq_ing,
                batch_id=b,
            )
        return total

    probe("IVFPQ versioned ingest (build + 8 micro-batches)", n_vecs,
          _ivfpq_ingest_probe)

    def _ivfpq_probe_only():
        from etlhelper_spark.functions.ivfpq import query_ivfpq_index

        return query_ivfpq_index(
            spark, ivfpq_ing, queries, k=5, nprobe=8
        ).count()

    probe("IVFPQ probe PRE-compaction (8 ingest batches on disk)",
          n_vecs, _ivfpq_probe_only)

    def _ivfpq_compact_probe():
        from etlhelper_spark.functions.ivfpq import compact_ivfpq_ingest

        return compact_ivfpq_ingest(spark, ivfpq_ing, watermark=8)

    probe("IVFPQ compaction (fold 8 batches into base, marker-last)",
          n_vecs, _ivfpq_compact_probe)

    probe("IVFPQ probe POST-compaction (single base, same queries)",
          n_vecs, _ivfpq_probe_only)

    def _ivfpq_forget_probe():
        # partition-local erasure: ~1% of ids leave both the compacted
        # base and any live cells; cold lists untouched
        from etlhelper_spark.operators.erasure import (
            forget_from_ivfpq_index,
        )

        ids = [int(i) for i in range(0, n_vecs, 100)]
        return forget_from_ivfpq_index(spark, ivfpq_ing, ids)

    probe("IVFPQ forget (partition-local, ~1% of vectors)", n_vecs,
          _ivfpq_forget_probe)

    def _ivfpq_rebalance_probe():
        # hot-list split via the row store (the codes-only index
        # never stored the floats)
        from etlhelper_spark.functions.ivfpq import (
            rebalance_ivfpq_index,
        )

        cap = -(-n_vecs // 64)
        return rebalance_ivfpq_index(
            spark, ivfpq_ing, row_store=vecs, max_list_size=cap,
            max_rounds=2,
        )

    probe("IVFPQ rebalance (row-store fetch, cap n/64, 2 rounds)",
          n_vecs, _ivfpq_rebalance_probe)

    def _ivfpq_residual_probe():
        from etlhelper_spark.functions.ivfpq import build_ivfpq_index

        d = os.path.join(tmp, "ivfpq_res")
        out = build_ivfpq_index(
            vecs, d, nlist=32, m_sub=8, k_codes=64, residual=True
        )[0]
        shutil.rmtree(d, ignore_errors=True)
        return out

    probe("IVFPQ residual build (L2 codebooks, Arrow encode)", n_vecs,
          _ivfpq_residual_probe)

    def _adaptive_ann_probe():
        # 1/50-selective filter: queries widen until the shortlist
        # fills — the per-round counts are a bounded 32-row collect
        from etlhelper_spark.functions.ann_index import (
            build_ivf_index,
            query_ivf_index_adaptive,
        )

        d = os.path.join(tmp, "ivf_adapt")
        attrs = vecs.select(
            "vec_id", "embedding",
            F.pmod("vec_id", F.lit(50)).alias("cat"),
        )
        build_ivf_index(attrs, d, nlist=32, attr_cols=["cat"])
        out = query_ivf_index_adaptive(
            spark, d, queries, k=5, nprobe0=2,
            attr_filter=F.col("cat") == 7,
        ).count()
        shutil.rmtree(d, ignore_errors=True)
        return out

    probe("adaptive filtered ANN (1/50 filter, widening, 32 queries)",
          n_vecs, _adaptive_ann_probe)

    def _bands_forget_probe():
        # erase ~1% of a 1M-doc band state through the versioned
        # rewrite (the forget_everywhere hot path for near-dup state)
        from etlhelper_spark.operators.dedup_state import (
            minhash_incremental,
        )
        from etlhelper_spark.operators.erasure import (
            forget_from_bands_state,
        )

        work = tempfile.mkdtemp(prefix="ehs_bforget_probe_")
        try:
            minhash_incremental(docs, work, 0, state_partitions=8)
            ids = [int(i) for i in range(0, n_docs, 100)]
            return forget_from_bands_state(
                spark, work, ids, state_partitions=8
            )
        finally:
            shutil.rmtree(work, ignore_errors=True)

    probe("band-state forget (~1% of 1M-doc band state)", n_docs,
          _bands_forget_probe)

    shutil.rmtree(ivfpq_ing, ignore_errors=True)

    # --- round-9 additions: adaptive/OPQ IVFPQ, survivorship, scoring
    def _ivfpq_adaptive_covering_probe():
        # the composed production path: covering attrs ride the code
        # rows, the 1/50 filter applies inside the pruned scan, and
        # each query widens until its oversampled shortlist fills
        from etlhelper_spark.functions.ivfpq import (
            build_ivfpq_index,
            query_ivfpq_index_adaptive,
        )

        d = os.path.join(tmp, "ivfpq_adapt")
        attrs = vecs.select(
            "vec_id", "embedding",
            F.pmod("vec_id", F.lit(50)).alias("cat"),
        )
        build_ivfpq_index(
            attrs, d, nlist=32, m_sub=8, k_codes=64, attr_cols=["cat"]
        )
        out = query_ivfpq_index_adaptive(
            spark, d, queries, k=5, nprobe0=2,
            attr_filter=F.col("cat") == 7,
        ).count()
        shutil.rmtree(d, ignore_errors=True)
        return out

    probe("IVFPQ adaptive covering build+probe (1/50 filter, 32 queries)",
          n_vecs, _ivfpq_adaptive_covering_probe)

    def _opq_ivfpq_build_probe():
        # rotation trains on a bounded driver sample; the corpus pays
        # ONE extra Arrow gemm scan, then the unchanged build
        from etlhelper_spark.functions.ivfpq import build_ivfpq_index

        d = os.path.join(tmp, "ivfpq_opq")
        out = build_ivfpq_index(
            vecs, d, nlist=32, m_sub=8, k_codes=64, opq=True
        )[0]
        shutil.rmtree(d, ignore_errors=True)
        return out

    probe("OPQ-IVFPQ build (sample train + gemm scan + encode)",
          n_vecs, _opq_ivfpq_build_probe)

    def _golden_records_probe():
        # 3 source systems per entity over the 1M-doc id space: one
        # groupBy with max_by payload structs per field, no windows
        from etlhelper_spark.operators.survivorship import (
            golden_records,
        )

        ck = F.col("doc_id") % 333_333
        recs = None
        for s, (prio_mod, null_mod) in enumerate(
            [(2, 3), (3, 5), (5, 7)]
        ):
            part = docs.select(
                ck.alias("ck"),
                (F.col("doc_id") * 3 + s).alias("rid"),
                F.lit(f"src{s}").alias("src"),
                (F.col("doc_id") % prio_mod).alias("v"),
                F.when(
                    F.col("doc_id") % null_mod != 0, F.col("text")
                ).alias("payload"),
            )
            recs = part if recs is None else recs.unionByName(part)
        return golden_records(
            recs, "ck", "rid", ["payload"], "v", "src",
            {"src0": 1, "src1": 2, "src2": 3},
        ).count()

    probe("golden records (3x1M records, 333k entities, max_by pass)",
          3 * n_docs, _golden_records_probe)

    # golden-state erase: persist the state OUTSIDE the timed probe,
    # then time only the erasure (affected clusters from the state's
    # own provenance slots + re-survival from retained records +
    # atomic version swap)
    from etlhelper_spark.operators.erasure import (
        forget_from_golden_state,
    )
    from etlhelper_spark.operators.survivorship_state import (
        golden_incremental,
    )

    ck = F.col("doc_id") % 333_333
    grecs = None
    for s, (prio_mod, null_mod) in enumerate([(2, 3), (3, 5), (5, 7)]):
        part = docs.select(
            ck.alias("ck"),
            (F.col("doc_id") * 3 + s).alias("rid"),
            F.lit(f"src{s}").alias("src"),
            (F.col("doc_id") % prio_mod).alias("v"),
            F.when(
                F.col("doc_id") % null_mod != 0, F.col("text")
            ).alias("payload"),
        )
        grecs = part if grecs is None else grecs.unionByName(part)
    gdir = os.path.join(tmp, "golden_erase_state")
    gargs = ("ck", "rid", ["payload"], "v", "src",
             {"src0": 1, "src1": 2, "src2": 3})
    golden_incremental(grecs, gdir, 0, *gargs)
    probe(
        "golden-state erase (1% of 3M records, re-survival)",
        3 * n_docs,
        lambda: forget_from_golden_state(
            spark, gdir,
            grecs.where(F.col("rid") % 300 == 7).select("rid"),
            grecs.where(F.col("rid") % 300 != 7),
            *gargs,
            forgotten_records=grecs.where(F.col("rid") % 300 == 7),
        ),
    )

    def _logit_score_probe():
        # 2 GD rounds (one combinable aggregate each) + literal-weight
        # scoring projection over the full corpus
        from etlhelper_spark.functions.calibrate import (
            logit_score,
            logit_train,
        )

        feat = docs.select(
            (F.length("text") / 100.0).alias("x1"),
            (F.pmod("doc_id", F.lit(10)) / 10.0).alias("x2"),
            (F.pmod("doc_id", F.lit(3)) == 0).cast("int").alias("y"),
        )
        w = logit_train(feat, ["x1", "x2"], "y", rounds=2)
        return logit_score(feat, w, ["x1", "x2"]).count()

    probe("logit train (2 rounds) + score scan (1M rows)", n_docs,
          _logit_score_probe)

    def _chunk_probe():
        from etlhelper_spark.functions.chunking import chunk_documents

        return chunk_documents(
            docs, size=8, overlap=2, with_text=False
        ).count()

    probe("document chunking (8-token windows, overlap 2)", n_docs,
          _chunk_probe)

    def _repetition_probe():
        from etlhelper_spark.functions.text import (
            gopher_flags,
            repetition_stats,
        )

        return gopher_flags(repetition_stats(docs)).count()

    probe("repetition stats + gopher flags (top-2/dup-3 grams)",
          n_docs, _repetition_probe)

    def _pack_incr_probe():
        from etlhelper_spark.operators.packing_state import (
            pack_incremental,
            read_pack_assignments,
        )

        work = os.path.join(tmp, "pack_state")
        for b in range(4):
            pack_incremental(
                docs.where(F.pmod("doc_id", F.lit(4)) == b),
                work,
                batch_id=b + 1,
                budget=2048,
                n_shards=64,
            )
        return read_pack_assignments(spark, work).count()

    probe("incremental packing (4 batch folds, 64 shards)", n_docs,
          _pack_incr_probe)

    def _pack_forget_probe():
        from etlhelper_spark.operators.packing_state import (
            forget_from_pack_state,
        )

        work = os.path.join(tmp, "pack_state")
        if not os.path.isdir(os.path.join(work, "assign")):
            # --only filters can skip the incremental probe that
            # normally seeds this state: seed it here (untimed)
            _pack_incr_probe()
        doomed = docs.select("doc_id").where(
            F.pmod("doc_id", F.lit(100)) == 7
        )
        return forget_from_pack_state(spark, work, doomed)

    probe("pack-state forget (~1% of 1M assignments, 4 versions)",
          n_docs, _pack_forget_probe)

    def _tensor_probe():
        from etlhelper_spark.functions.packing import (
            pack_documents,
            pack_token_windows,
        )
        from etlhelper_spark.functions.text import bpe_doc_token_ids

        dt = bpe_doc_token_ids(docs, rounds=3).localCheckpoint()
        asg = pack_documents(
            dt, budget=2048, tokens_col="n_tokens", n_shards=64
        )
        return pack_token_windows(dt, asg, budget=2048).count()

    probe("packed tensor export (BPE ids -> 2048-budget windows)",
          n_docs, _tensor_probe)

    def _sample_forget_probe():
        from etlhelper_spark.operators.erasure import (
            forget_from_sample_state,
        )
        from etlhelper_spark.operators.sample_state import (
            weighted_sample_incremental,
        )

        work = os.path.join(tmp, "sample_state")
        d = docs.withColumn("w", F.pmod("doc_id", F.lit(97)) + 1)
        for b in range(3):
            weighted_sample_incremental(
                d.where(F.pmod("doc_id", F.lit(3)) == b),
                work, b, "w", 10_000, "doc_id",
            )
        retained = d.where(F.pmod("doc_id", F.lit(100)) != 7)
        forget_from_sample_state(
            spark, work,
            d.where(F.pmod("doc_id", F.lit(100)) == 7).select("doc_id"),
            "doc_id", retained=retained, weight_col="w", n=10_000,
        )
        return n_docs

    probe("sample-state forget + re-race (10k reservoir over 1M)",
          n_docs, _sample_forget_probe)

    def _frozen_vocab_probe():
        from etlhelper_spark.functions.text import bpe_doc_token_ids
        from etlhelper_spark.operators.bpe_state import (
            build_bpe_state,
            read_bpe_merges,
            read_bpe_vocab,
        )

        work = os.path.join(tmp, "bpe_vocab_state")
        half_a = docs.where(F.pmod("doc_id", F.lit(2)) == 0)
        half_b = docs.where(F.pmod("doc_id", F.lit(2)) == 1)
        build_bpe_state(half_a, work, rounds=3, with_vocab=True)
        rules = read_bpe_merges(spark, work).collect()
        vocab = read_bpe_vocab(spark, work)
        return bpe_doc_token_ids(
            half_b, merges=rules, vocab=vocab, unk_id=-2
        ).count()

    probe("frozen-vocab encode (train 500k, encode 500k new docs)",
          n_docs, _frozen_vocab_probe)

    def _repeat_probe():
        from etlhelper_spark.functions.selection import repeat_to_budget

        budgets = (
            docs.groupBy(F.pmod("doc_id", F.lit(10)).alias("source"))
            .agg(
                F.floor(
                    F.sum(
                        F.size(F.split(F.trim("text"), r"\s+"))
                    ) * F.lit(2.3)
                ).alias("budget_tokens")
            )
        )
        d = docs.withColumn(
            "source", F.pmod("doc_id", F.lit(10))
        )
        return repeat_to_budget(d, budgets, source_col="source").count()

    probe("epoch repeat plan (10 sources, 2.3x quota, 1M docs)",
          n_docs, _repeat_probe)

    def _repeat_skew_probe():
        # the r11 scale-killer shape: one source holds 90% of the
        # corpus, so the old per-source window cumsum would sort 900k
        # rows in ONE task; the two-level bucketed race must hold its
        # rate here or the fix is cosmetic
        from etlhelper_spark.functions.selection import repeat_to_budget

        d = docs.withColumn(
            "source",
            F.when(F.pmod("doc_id", F.lit(10)) < 9, F.lit(0)).otherwise(
                F.pmod("doc_id", F.lit(10))
            ),
        )
        budgets = d.groupBy("source").agg(
            F.floor(
                F.sum(F.size(F.split(F.trim("text"), r"\s+")))
                * F.lit(2.3)
            ).alias("budget_tokens")
        )
        return repeat_to_budget(d, budgets, source_col="source").count()

    probe("epoch repeat plan SKEWED (one source=90% of 1M docs)",
          n_docs, _repeat_skew_probe)

    def _pipeline_probe():
        # q287's full chain at ~200x bench scale: filter -> exact
        # dedup -> 0.8x selection race -> encode -> chunk ids ->
        # pack -> tensors (8-token chunks / 32 budget keep output
        # sizes sane against the 10-word synthetic docs)
        from etlhelper_spark.functions.chunking import chunk_token_ids
        from etlhelper_spark.functions.dedup import dedup_exact
        from etlhelper_spark.functions.packing import (
            pack_documents,
            pack_token_windows,
        )
        from etlhelper_spark.functions.selection import repeat_to_budget
        from etlhelper_spark.functions.text import word_token_ids

        d = docs.withColumn("source", F.pmod("doc_id", F.lit(10)))
        toks = F.split(F.lower(F.trim("text")), r"\s+")
        kept = d.where(
            (F.size(toks) >= 5)
            & (F.size(F.array_distinct(toks))
               / F.size(toks).cast("double") >= 0.3)
        )
        corpus = dedup_exact(kept, "text", "doc_id")
        budgets = corpus.groupBy("source").agg(
            F.floor(
                F.sum(F.size(F.split(F.trim("text"), r"\s+"))
                      .cast("long")) * F.lit(0.8)
            ).alias("budget_tokens")
        )
        picked = repeat_to_budget(corpus, budgets).select(
            "doc_id"
        ).distinct()
        sel = corpus.join(picked, "doc_id", "left_semi")
        dt = word_token_ids(sel).localCheckpoint()
        ch = chunk_token_ids(dt, size=8).localCheckpoint()
        asg = pack_documents(
            ch.select("chunk_id", "n_tokens"), budget=32,
            tokens_col="n_tokens", id_col="chunk_id", n_shards=7,
        )
        return pack_token_windows(
            ch, asg, budget=32, pad_id=-1, id_col="chunk_id",
            with_metadata=True,
        ).count()

    probe("training pipeline end-to-end (filter/dedup/select/encode/"
          "chunk/pack/tensors)", n_docs, _pipeline_probe)

    def _epoch_tensor_probe():
        # q286's composition at scale: 2.3x quotas -> ~2.3M (doc,
        # epoch) instances; repeats are GENERATED by the id join,
        # never shuffled as text, then packed into 64-token windows
        from etlhelper_spark.functions.packing import (
            pack_documents,
            pack_token_windows,
        )
        from etlhelper_spark.functions.selection import repeat_to_budget
        from etlhelper_spark.functions.text import word_token_ids

        d = docs.withColumn("source", F.pmod("doc_id", F.lit(10)))
        budgets = d.groupBy("source").agg(
            F.floor(
                F.sum(F.size(F.split(F.trim("text"), r"\s+"))
                      .cast("long")) * F.lit(2.3)
            ).alias("budget_tokens")
        )
        plan = repeat_to_budget(d, budgets)
        dt = word_token_ids(d).localCheckpoint()
        edt = (
            plan.select("doc_id", "epoch")
            .join(dt, "doc_id")
            .select(
                (F.col("doc_id") * F.lit(1048576) + F.col("epoch"))
                .alias("doc_id"),
                "token_ids",
                F.size("token_ids").cast("long").alias("n_tokens"),
            )
        )
        asg = pack_documents(
            edt.select("doc_id", "n_tokens"), budget=64,
            tokens_col="n_tokens", n_shards=7,
        )
        return pack_token_windows(
            edt, asg, budget=64, pad_id=-1, with_metadata=True
        ).count()

    probe("epoch-repeated tensor export (2.3x quotas, ~2.3M instances)",
          n_docs, _epoch_tensor_probe)

    if args.only:
        for name, dt, rows, rate in results:
            print(f"| {name} | {dt} | {rows:,} | {rate:,} |")
        shutil.rmtree(tmp, ignore_errors=True)
        return

    lines = [
        "# SCALE PROBE — measured operator scaling beyond bench SF",
        "",
        f"Synthetic corpus: {n_docs:,} docs, {n_vecs:,} x 64-dim vectors",
        f"(~{n_docs // 5000}x the sf0.1 document count), local[32].",
        "Generated by scripts/scale_probe.py; timings are steady-state-",
        "adjacent (one JVM, operators run once each after session warm).",
        "Single-shot rates carry first-run JIT/page-cache variance of",
        "up to ~2-3x across sessions (measured: exact dedup 207k rows/s",
        "cold vs 1.07M warm in one JVM); read rows for rate COLLAPSE",
        "(quadratic blowup) relative to input size, not for +-2x drift.",
        "",
        "| operator | wall (s) | input rows | rows/sec |",
        "|---|---|---|---|",
    ]
    for name, dt, rows, rate in results:
        lines.append(f"| {name} | {dt} | {rows:,} | {rate:,} |")
    lines += [
        "",
        "A linear operator holds its rows/sec as the corpus grows;",
        "collapse here would flag a hidden quadratic. Compare against",
        "BENCH_FULL.json rates at sf0.1 when reviewing.",
        "",
    ]
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_PROBE.md",
    )
    with open(out_path, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out_path}")
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
