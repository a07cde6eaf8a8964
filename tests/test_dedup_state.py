"""Incremental cross-run dedup against persisted state
(operators/dedup_state.py): recompute equivalence over sequential
batch applies, first-seen survivor semantics, and replay idempotency.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from etlhelper_spark.functions.dedup import minhash_lsh_candidates
from etlhelper_spark.operators.dedup_state import (
    dedup_exact_incremental,
    minhash_incremental,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def state_dir():
    d = tempfile.mkdtemp(prefix="ehs_state_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _docs(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    # planted duplicates: shifted-id copies, q23's construction
    return d.unionAll(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )


def test_exact_three_batches_equal_full_recompute(spark, state_dir):
    docs = _docs(spark)
    batches = [docs.where(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
    verdicts = [
        dedup_exact_incremental(b, state_dir, i)
        for i, b in enumerate(batches)
    ]
    got = {
        r["id"]: (r["survivor_id"], r["kept"])
        for v in verdicts
        for r in v.collect()
    }
    # expected: first-seen = min (batch, id); batch = doc_id % 3
    rows = docs.withColumn(
        "fp",
        F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")),
    ).select("doc_id", "fp", F.pmod("doc_id", F.lit(3)).alias("b")).collect()
    first_seen: dict[str, tuple[int, int]] = {}
    for r in rows:
        k = (r["b"], r["doc_id"])
        if r["fp"] not in first_seen or k < first_seen[r["fp"]]:
            first_seen[r["fp"]] = k
    assert len(got) == len(rows)
    for r in rows:
        surv = first_seen[r["fp"]][1]
        assert got[r["doc_id"]] == (surv, r["doc_id"] == surv)


def test_exact_cross_batch_survivor_beats_lower_later_id(spark, state_dir):
    # doc 10 (batch 0) and doc 1 (batch 1) share content: the
    # FIRST-SEEN doc 10 survives even though doc 1 has the lower id
    b0 = spark.createDataFrame([(10, "same text"), (11, "other")],
                               ["doc_id", "text"])
    b1 = spark.createDataFrame([(1, "same  text"), (2, "third")],
                               ["doc_id", "text"])
    v0 = {r["id"]: r for r in
          dedup_exact_incremental(b0, state_dir, 0).collect()}
    v1 = {r["id"]: r for r in
          dedup_exact_incremental(b1, state_dir, 1).collect()}
    assert v0[10]["kept"] and v0[11]["kept"]
    assert not v1[1]["kept"] and v1[1]["survivor_id"] == 10
    assert v1[2]["kept"]


def test_exact_replay_is_idempotent(spark, state_dir):
    b0 = spark.createDataFrame([(1, "alpha"), (2, "beta")],
                               ["doc_id", "text"])
    b1 = spark.createDataFrame([(3, "alpha"), (4, "gamma")],
                               ["doc_id", "text"])
    dedup_exact_incremental(b0, state_dir, 0).collect()
    first = sorted(
        (r["id"], r["survivor_id"], r["kept"])
        for r in dedup_exact_incremental(b1, state_dir, 1).collect()
    )
    # replay batch 1 (at-least-once delivery): overwrites its own
    # append, same verdicts, no double-counted state
    replay = sorted(
        (r["id"], r["survivor_id"], r["kept"])
        for r in dedup_exact_incremental(b1, state_dir, 1).collect()
    )
    assert first == replay == [(3, 1, False), (4, 4, True)]
    # and a later batch still resolves against exactly-once state
    v2 = {r["id"]: r for r in
          dedup_exact_incremental(
              spark.createDataFrame([(5, "gamma")], ["doc_id", "text"]),
              state_dir, 2).collect()}
    assert v2[5]["survivor_id"] == 4 and not v2[5]["kept"]


def test_bucketed_state_equals_path_state(spark, state_dir, tmp_path):
    """The bucketed-table layout must produce identical verdicts to
    the path-based layout over the same batch sequence, its state join
    must read the state Bucketed with ZERO Exchange above the scan
    (the shuffle-at-scale claim), and re-registering the table over
    the same location (a fresh session's first move) must see the
    accumulated state intact."""
    import re

    from etlhelper_spark.operators.dedup_state import (
        dedup_exact_incremental_bucketed,
        ensure_bucketed_state_table,
    )

    docs = _docs(spark)
    batches = [docs.where(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
    table = "ehs_test_bucketed_state"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = str(tmp_path)
    got_b: dict = {}
    for i, b in enumerate(batches):
        for r in dedup_exact_incremental_bucketed(
            b, table, loc, i, buckets=8
        ).collect():
            got_b[r["id"]] = (r["survivor_id"], r["kept"])
    got_p: dict = {}
    for i, b in enumerate(batches):
        for r in dedup_exact_incremental(b, state_dir, i).collect():
            got_p[r["id"]] = (r["survivor_id"], r["kept"])
    assert got_b == got_p
    # plan shape: state side bucketed, no Exchange above its scan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        batch_keys = batches[0].select(
            F.md5("text").alias("fingerprint"), "doc_id"
        )
        plan = (
            batch_keys.join(spark.table(table), "fingerprint")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"
        )
    assert "Bucketed: true" in plan
    # exactly one Exchange — the batch side shuffling into the bucket
    # layout; the state scan itself is exchange-free
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    # survives re-registration (fresh-session simulation)
    n_before = spark.table(table).count()
    spark.sql(f"DROP TABLE {table}")
    ensure_bucketed_state_table(spark, table, loc, buckets=8)
    assert spark.table(table).count() == n_before
    spark.sql(f"DROP TABLE {table}")


def test_embedding_incremental_recovers_bruteforce_pairs(spark, state_dir):
    """Three sequential embedding-LSH applies must recover the exact
    brute-force near-dup pair set (threshold 0.95) over the doubled
    corpus — cross-batch exact copies are found deterministically
    (identical vectors share every signature), and the planted
    non-identical pairs survive the 16-table recall."""
    from etlhelper_spark.functions.dedup import embedding_near_duplicates
    from etlhelper_spark.operators.dedup_state import (
        embedding_lsh_incremental,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    doubled = e.unionAll(
        e.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    batches = [
        doubled.where(F.pmod("vec_id", F.lit(3)) == i) for i in range(3)
    ]
    got = set()
    for i, b in enumerate(batches):
        rows = embedding_lsh_incremental(b, state_dir, i).collect()
        fresh = {(r["id_a"], r["id_b"]) for r in rows}
        assert not (got & fresh)  # applies emit disjoint pair sets
        got |= fresh
    want = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(
            doubled, "vec_id", "embedding", 0.95, method="brute"
        ).collect()
    }
    assert got == want and want


def test_compaction_preserves_verdicts_and_bounds_dirs(spark, state_dir):
    """Folding the per-batch appends into base must not change any
    later verdict (rows keep their batch column, so first-seen and
    replay filtering read identically), must shrink the directory
    count, and a replayed batch AFTER compaction must still resolve
    correctly (its compacted rows are filtered by batch < id, and the
    duplicate append collapses at read time)."""
    import glob
    import os

    from etlhelper_spark.operators.dedup_state import compact_dedup_state

    b0 = spark.createDataFrame(
        [(10, "same text"), (11, "other")], ["doc_id", "text"]
    )
    b1 = spark.createDataFrame(
        [(1, "same  text"), (2, "third")], ["doc_id", "text"]
    )
    b2 = spark.createDataFrame(
        [(20, "OTHER"), (21, "third"), (22, "fresh")], ["doc_id", "text"]
    )
    dedup_exact_incremental(b0, state_dir, 0).collect()
    dedup_exact_incremental(b1, state_dir, 1).collect()
    folded = compact_dedup_state(spark, state_dir, "exact")
    assert folded == 2
    sub = os.path.join(state_dir, "exact")
    assert glob.glob(os.path.join(sub, "batch=*")) == []
    assert glob.glob(os.path.join(sub, "base_v1", "*.parquet"))
    assert os.path.exists(os.path.join(sub, "base_v1", "_COMPACTED"))
    # post-compaction apply resolves against base exactly as before:
    # "OTHER" normalizes to batch-0's "other" (survivor 11), "third"
    # to batch-1's survivor 2, "fresh" is new
    v2 = {r["id"]: (r["survivor_id"], r["kept"]) for r in
          dedup_exact_incremental(b2, state_dir, 2).collect()}
    assert v2 == {20: (11, False), 21: (2, False), 22: (22, True)}
    # replay batch 2 after its append joined a compacted base: same
    # verdicts, and a second compaction folds the replay dup harmlessly
    v2r = {r["id"]: (r["survivor_id"], r["kept"]) for r in
           dedup_exact_incremental(b2, state_dir, 2).collect()}
    assert v2r == v2
    compact_dedup_state(spark, state_dir, "exact")
    v3 = {r["id"]: r["survivor_id"] for r in
          dedup_exact_incremental(
              spark.createDataFrame([(30, "fresh")], ["doc_id", "text"]),
              state_dir, 3).collect()}
    assert v3 == {30: 22}


def test_compaction_preserves_minhash_candidates(spark, state_dir):
    """Band-state compaction: candidates of a post-compaction batch
    must equal the uncompacted run's."""
    from etlhelper_spark.operators.dedup_state import compact_dedup_state

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    batches = [docs.where(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
    plain = tempfile.mkdtemp(prefix="ehs_state_plain_")
    try:
        want, got = set(), set()
        for i, b in enumerate(batches):
            want |= {(r["id_a"], r["id_b"]) for r in
                     minhash_incremental(b, plain, i).collect()}
        for i, b in enumerate(batches):
            got |= {(r["id_a"], r["id_b"]) for r in
                    minhash_incremental(b, state_dir, i).collect()}
            compact_dedup_state(spark, state_dir, "bands")
        assert got == want
    finally:
        shutil.rmtree(plain, ignore_errors=True)


def test_incremental_clusters_merge_across_batches(spark, state_dir):
    """Cluster contraction: batch 0 builds {1,2} and {5,6}; batch 1's
    single edge (2,6) must merge them into one component labeled 1,
    relabeling the stored rows — and an untouched cluster stays put.
    Replaying batch 1 leaves the state identical."""
    from etlhelper_spark.operators.dedup_state import (
        duplicate_clusters_incremental,
    )

    b0 = spark.createDataFrame(
        [(1, 2), (5, 6), (8, 9)], ["id_a", "id_b"]
    )
    b1 = spark.createDataFrame([(2, 6)], ["id_a", "id_b"])
    s0 = {r["node_id"]: r["cluster_id"] for r in
          duplicate_clusters_incremental(b0, state_dir, 0).collect()}
    assert s0 == {1: 1, 2: 1, 5: 5, 6: 5, 8: 8, 9: 8}
    s1 = {r["node_id"]: r["cluster_id"] for r in
          duplicate_clusters_incremental(b1, state_dir, 1).collect()}
    assert s1 == {1: 1, 2: 1, 5: 1, 6: 1, 8: 8, 9: 8}
    s1r = {r["node_id"]: r["cluster_id"] for r in
           duplicate_clusters_incremental(b1, state_dir, 1).collect()}
    assert s1r == s1


def test_incremental_clusters_equal_one_shot(spark, state_dir):
    """Three-batch split of the real jaccard pair set must equal the
    one-shot label propagation over all pairs."""
    from etlhelper_spark.functions.dedup import (
        duplicate_clusters,
        ngram_jaccard_pairs,
    )
    from etlhelper_spark.operators.dedup_state import (
        duplicate_clusters_incremental,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_size=3, threshold=0.5
    ).select("id_a", "id_b").localCheckpoint()
    final = None
    for i in range(3):
        b = pairs.where(F.pmod(F.col("id_a") + F.col("id_b"), F.lit(3)) == i)
        final = duplicate_clusters_incremental(b, state_dir, i)
    got = {r["node_id"]: r["cluster_id"] for r in final.collect()}
    want = {r["node_id"]: r["cluster_id"] for r in
            duplicate_clusters(pairs, "id_a", "id_b").collect()}
    assert got == want and want


def test_minhash_incremental_equals_full_selfjoin(spark, state_dir):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    batches = [docs.where(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
    got = set()
    for i, b in enumerate(batches):
        got |= {
            (r["id_a"], r["id_b"])
            for r in minhash_incremental(b, state_dir, i).collect()
        }
    want = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }
    assert got == want and want  # non-vacuous: corpus has collisions


def test_prune_versions_keeps_replay_safety(spark, state_dir):
    """Pruning a full-versioned store to the newest 2 versions must
    not disturb later applies or a replay of the latest batch."""
    import glob
    import os

    from etlhelper_spark.operators.dedup_state import (
        duplicate_clusters_incremental,
        prune_state_versions,
    )

    batches = [
        spark.createDataFrame(rows, ["id_a", "id_b"])
        for rows in ([(1, 2)], [(3, 4)], [(2, 3)])
    ]
    for i, b in enumerate(batches[:2]):
        duplicate_clusters_incremental(b, state_dir, i)
    assert prune_state_versions(state_dir, "clusters", keep=2) == 0
    duplicate_clusters_incremental(batches[2], state_dir, 2)
    removed = prune_state_versions(state_dir, "clusters", keep=2)
    assert removed == 1
    assert sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(state_dir, "clusters", "v*"))
    ) == ["v1", "v2"]
    # replay of the latest batch reads v1 and overwrites v2: unchanged
    s = {r["node_id"]: r["cluster_id"] for r in
         duplicate_clusters_incremental(batches[2], state_dir, 2).collect()}
    assert s == {1: 1, 2: 1, 3: 1, 4: 1}


def test_empty_batches_are_harmless(spark, state_dir):
    """Production feeds have empty batches (quiet hours, filtered
    partitions): every state operator must treat one as a no-op apply
    that still writes its ledger entry and leaves later applies
    correct."""
    import os

    from etlhelper_spark.operators.dedup_state import (
        duplicate_clusters_incremental,
        minhash_incremental,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha")], ["doc_id", "text"]
    )
    # exact: empty batch 0, real batch 1
    assert dedup_exact_incremental(
        empty_docs, state_dir, 0
    ).count() == 0
    v = {r["id"]: r["survivor_id"] for r in
         dedup_exact_incremental(docs, state_dir, 1).collect()}
    assert v == {1: 1, 2: 1}
    # minhash: empty batch on existing state, then a real batch whose
    # docs are long enough to shingle (1-token docs correctly produce
    # NO band keys — see test_short_documents_have_no_shingles)
    mh_dir = os.path.join(state_dir, "mh")
    long_docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], ["doc_id", "text"]
    )
    assert minhash_incremental(empty_docs, mh_dir, 0).count() == 0
    assert minhash_incremental(long_docs, mh_dir, 1).count() == 1
    # clusters: empty pair batch leaves the stored labels intact
    cc_dir = os.path.join(state_dir, "cc")
    duplicate_clusters_incremental(
        spark.createDataFrame([(1, 2)], ["id_a", "id_b"]), cc_dir, 0
    )
    s = {r["node_id"]: r["cluster_id"] for r in
         duplicate_clusters_incremental(
             spark.createDataFrame([], "id_a long, id_b long"),
             cc_dir, 1).collect()}
    assert s == {1: 1, 2: 1}


def test_short_documents_have_no_shingles(spark):
    """Documents shorter than the shingle size must yield ZERO
    shingles (the oracle's semantics), not crash: the descending
    sequence(0, size-n) fed negative starts into slice() — the bug the
    empty-batch suite flushed out. Exercises the whole minhash family
    on a corpus of 1-2 token docs plus one long doc."""
    from etlhelper_spark.functions.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta gamma"), (3, ""),
         (4, "a b c d e f"), (5, "a b c d e f")],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(docs, "doc_id", "text", 16, 3)
    # only the two long docs produce signatures
    assert {r["id"] for r in sigs.collect()} == {4, 5}
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_candidates(docs, "doc_id", "text").collect()}
    assert pairs == {(4, 5)}
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()}
    assert jac == {(4, 5): 1.0}


def test_compaction_crash_windows_never_hide_state(spark, state_dir):
    """The versioned-base scheme's two crash windows, simulated:

    (A) a compaction that died mid-write leaves a markerless
        ``base_v<k>`` dir — readers must ignore it (newest COMPLETE
        version wins) and the next compaction overwrites the debris;
    (B) a compaction that died after the marker but before cleanup
        leaves the folded appends alongside the new base — readers
        must collapse the duplicated rows to the same verdicts.
    In neither window is the accumulated state invisible."""
    import glob
    import os

    from etlhelper_spark.operators.dedup_state import compact_dedup_state
    from etlhelper_spark.state.store import current_base

    b0 = spark.createDataFrame(
        [(10, "alpha"), (11, "beta")], ["doc_id", "text"]
    )
    b1 = spark.createDataFrame(
        [(1, "ALPHA"), (2, "gamma")], ["doc_id", "text"]
    )
    dedup_exact_incremental(b0, state_dir, 0).collect()
    dedup_exact_incremental(b1, state_dir, 1).collect()
    sub = os.path.join(state_dir, "exact")
    # keep a copy of the appends to restore as window-B debris later
    debris = {
        os.path.basename(p): os.path.join(state_dir, "_saved_" + os.path.basename(p))
        for p in glob.glob(os.path.join(sub, "batch=*"))
    }
    for p in glob.glob(os.path.join(sub, "batch=*")):
        shutil.copytree(p, debris[os.path.basename(p)])
    assert compact_dedup_state(spark, state_dir, "exact") == 2
    assert current_base(sub).endswith("base_v1")

    # window A: markerless base_v2 (mid-write crash) is invisible
    os.makedirs(os.path.join(sub, "base_v2"), exist_ok=True)
    assert current_base(sub).endswith("base_v1")
    expected = {20: (10, False), 21: (2, False), 22: (22, True)}
    b2 = spark.createDataFrame(
        [(20, "alpha"), (21, "gamma"), (22, "delta")], ["doc_id", "text"]
    )
    v2 = {r["id"]: (r["survivor_id"], r["kept"]) for r in
          dedup_exact_incremental(b2, state_dir, 2).collect()}
    assert v2 == expected

    # window B: restore the already-folded appends next to base_v1 —
    # readers see every row twice and must resolve identically
    for name, saved in debris.items():
        shutil.copytree(saved, os.path.join(sub, name))
    v2r = {r["id"]: (r["survivor_id"], r["kept"]) for r in
           dedup_exact_incremental(b2, state_dir, 2).collect()}
    assert v2r == expected

    # the next compaction folds base_v1 + debris + batch=2 into a
    # complete base_v2, overwriting window A's markerless dir
    folded = compact_dedup_state(spark, state_dir, "exact")
    assert folded == 3  # batch=0, batch=1 (restored), batch=2
    assert current_base(sub).endswith("base_v2")
    assert os.path.exists(os.path.join(sub, "base_v2", "_COMPACTED"))
    assert not os.path.exists(os.path.join(sub, "base_v1"))
    assert glob.glob(os.path.join(sub, "batch=*")) == []
    v3 = {r["id"]: r["survivor_id"] for r in dedup_exact_incremental(
        spark.createDataFrame([(30, "delta")], ["doc_id", "text"]),
        state_dir, 3).collect()}
    assert v3 == {30: 22}


def test_read_dedup_verdicts_empty_raises(spark):
    from etlhelper_spark.operators.dedup_state import read_dedup_verdicts

    empty = tempfile.mkdtemp(prefix="ehs_verdicts_empty_")
    try:
        with pytest.raises(ValueError, match="no verdict partitions"):
            read_dedup_verdicts(spark, empty)
    finally:
        shutil.rmtree(empty, ignore_errors=True)


def test_bloom_variant_matches_plain_verdicts(spark, state_dir):
    """dedup_exact_incremental_bloom must produce bit-identical
    verdicts to the plain variant over the same batch sequence — the
    bloom is a scan-side pruning device, never a semantic one. A tiny
    bitmap (m=256 bits for ~2000 fingerprints, saturated ⇒ ~every
    probe a false positive) must change nothing but the candidate
    count; interop with the plain variant on one shared store and a
    parameter drift must fail loudly."""
    import os

    from etlhelper_spark.operators.dedup_state import (
        dedup_exact_incremental_bloom,
    )

    docs = _docs(spark)
    batches = [docs.where(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
    plain_dir = tempfile.mkdtemp(prefix="ehs_state_plain_")
    tiny_dir = tempfile.mkdtemp(prefix="ehs_state_tiny_")
    try:
        want, got, tiny = {}, {}, {}
        for i, b in enumerate(batches):
            for r in dedup_exact_incremental(b, plain_dir, i).collect():
                want[r["id"]] = (r["fingerprint"], r["survivor_id"], r["kept"])
            for r in dedup_exact_incremental_bloom(b, state_dir, i).collect():
                got[r["id"]] = (r["fingerprint"], r["survivor_id"], r["kept"])
            for r in dedup_exact_incremental_bloom(
                b, tiny_dir, i, m_bits=256, num_hashes=2
            ).collect():
                tiny[r["id"]] = (r["fingerprint"], r["survivor_id"], r["kept"])
        assert got == want and tiny == want
        # bitmap versions exist per batch and carry their parameters
        v2 = spark.read.parquet(os.path.join(state_dir, "exact_bloom", "v2"))
        meta = v2.select("m", "k").first()
        assert (meta["m"], meta["k"]) == (1 << 22, 4)
        # parameter drift fails loudly instead of corrupting
        with pytest.raises(ValueError, match="was built with m="):
            dedup_exact_incremental_bloom(
                batches[0], state_dir, 3, m_bits=1 << 20
            )
        # interop: a batch applied via the PLAIN variant lands in the
        # same exact store; the bloom variant still resolves against it
        # (bloom has no bits for it, but the docstring contract is
        # graceful-degrade, not false negatives on the VERDICT level):
        # a doc whose duplicate entered plain-side must still dedup.
        extra = spark.createDataFrame(
            [(900001, "bloomless entry")], ["doc_id", "text"]
        )
        dedup_exact_incremental(extra, state_dir, 3)
        dup = spark.createDataFrame(
            [(900002, "bloomless  ENTRY")], ["doc_id", "text"]
        )
        v = dedup_exact_incremental_bloom(dup, state_dir, 4).collect()
        assert len(v) == 1
        assert (v[0]["survivor_id"], v[0]["kept"]) == (900001, False)
        # ...and batch 4's bitmap HEALED the gap: a later bloom apply
        # (whose bitmap now covers the plain-applied fingerprint) still
        # finds the batch-3 survivor through the pruned path
        dup2 = spark.createDataFrame(
            [(900003, "BLOOMLESS entry")], ["doc_id", "text"]
        )
        v5 = dedup_exact_incremental_bloom(dup2, state_dir, 5).collect()
        assert (v5[0]["survivor_id"], v5[0]["kept"]) == (900001, False)
    finally:
        shutil.rmtree(plain_dir, ignore_errors=True)
        shutil.rmtree(tiny_dir, ignore_errors=True)


def test_bloom_first_apply_on_legacy_plain_store_heals_gap(spark):
    """Regression: the FIRST bloom apply on a store built entirely by
    plain-variant applies must fold ALL legacy fingerprints into its
    bitmap. Before the fix, that bitmap covered only its own batch but
    carried a version claiming coverage of every earlier batch, so the
    NEXT bloom apply bloom-filtered legacy fingerprints out of the
    state join — admitting their duplicates as new (false negatives,
    silent first-seen corruption)."""
    from etlhelper_spark.operators.dedup_state import (
        dedup_exact_incremental_bloom,
    )

    legacy_dir = tempfile.mkdtemp(prefix="ehs_state_legacy_")
    try:
        # batch 0: plain apply only — no bitmap exists yet
        dedup_exact_incremental(
            spark.createDataFrame([(1, "legacy doc")], ["doc_id", "text"]),
            legacy_dir,
            0,
        )
        # batch 1: first bloom apply (unrelated doc) — writes bitmap v1
        dedup_exact_incremental_bloom(
            spark.createDataFrame([(2, "other doc")], ["doc_id", "text"]),
            legacy_dir,
            1,
        )
        # batch 2: a duplicate of the PLAIN-applied batch-0 doc. The v1
        # bitmap claims coverage of batch<=1; if it didn't fold the
        # legacy fingerprints in, doc 1's fingerprint gets pruned from
        # the state join here and the duplicate is wrongly kept.
        v = dedup_exact_incremental_bloom(
            spark.createDataFrame([(3, "LEGACY  doc")], ["doc_id", "text"]),
            legacy_dir,
            2,
        ).collect()
        assert len(v) == 1
        assert (v[0]["survivor_id"], v[0]["kept"]) == (1, False)
        # and the batch-1 doc's own duplicate still dedups too
        v3 = dedup_exact_incremental_bloom(
            spark.createDataFrame([(4, "other  DOC")], ["doc_id", "text"]),
            legacy_dir,
            3,
        ).collect()
        assert (v3[0]["survivor_id"], v3[0]["kept"]) == (2, False)
    finally:
        shutil.rmtree(legacy_dir, ignore_errors=True)


# ---------------------------------------------------------------------
# span (n-gram window) state
# ---------------------------------------------------------------------


def _span_rows(verdicts):
    return sorted(
        (r["id"], r["n_grams"], r["n_dup"], r["dup_coverage"])
        for r in verdicts.collect()
    )


def test_span_state_scores_batch_against_history_and_itself(spark, tmp_path):
    from etlhelper_spark.operators.dedup_state import span_dedup_incremental

    state = str(tmp_path / "spans")
    # n=3 grams; doc 1 plants "a b c"; doc 2 repeats it verbatim later
    b1 = spark.createDataFrame(
        [(1, "a b c d e")], ["doc_id", "text"]
    )
    v1 = span_dedup_incremental(b1, state, 1, n=3)
    # first batch: nothing prior, no cross-doc repeats -> coverage 0
    assert _span_rows(v1) == [(1, 3, 0, 0.0)]

    b2 = spark.createDataFrame(
        [
            (2, "a b c x y"),          # "a b c" seen in batch 1
            (3, "p q r s t"),          # fresh
            (4, "p q r z z"),          # "p q r" repeats WITHIN batch 2
        ],
        ["doc_id", "text"],
    )
    v2 = span_dedup_incremental(b2, state, 2, n=3)
    rows = dict((r[0], r) for r in _span_rows(v2))
    assert rows[2] == (2, 3, 1, 0.3333)   # history hit
    assert rows[3] == (3, 3, 1, 0.3333)   # batch-local cross-doc hit
    assert rows[4] == (4, 3, 1, 0.3333)


def test_span_state_replay_is_idempotent(spark, tmp_path):
    from etlhelper_spark.operators.dedup_state import span_dedup_incremental

    state = str(tmp_path / "spans")
    b1 = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    b2 = spark.createDataFrame([(2, "c d e f g")], ["doc_id", "text"])
    span_dedup_incremental(b1, state, 1, n=3)
    first = _span_rows(span_dedup_incremental(b2, state, 2, n=3))
    # replay of batch 2 must not see its own append as prior
    assert _span_rows(span_dedup_incremental(b2, state, 2, n=3)) == first
    # and a replay of batch 1 must not see batch 2's grams either
    assert _span_rows(
        span_dedup_incremental(b1, state, 1, n=3)
    ) == [(1, 3, 0, 0.0)]


def test_forget_from_dedup_state(spark, tmp_path):
    """Erasure semantics: rows whose survivor is forgotten vanish
    (future duplicates re-admit as new first-seen); retained content
    still dedups to its historical survivor; the rewrite lands as a
    marked base version with the appends folded away."""
    import glob
    import os

    from etlhelper_spark.operators.dedup_state import (
        forget_from_dedup_state,
    )

    work = tempfile.mkdtemp(prefix="ehs_forget_t_")
    try:
        dedup_exact_incremental(
            spark.createDataFrame(
                [(7, "erase me"), (3, "keep me")], ["doc_id", "text"]
            ),
            work,
            0,
        )
        n = forget_from_dedup_state(spark, work, [7])
        assert n == 1
        sub = os.path.join(work, "exact")
        assert os.path.exists(os.path.join(sub, "base_v1", "_COMPACTED"))
        assert glob.glob(os.path.join(sub, "batch=*")) == []
        v = {
            r["id"]: (r["survivor_id"], r["kept"])
            for r in dedup_exact_incremental(
                spark.createDataFrame(
                    [(100, "ERASE  me"), (101, "KEEP me")],
                    ["doc_id", "text"],
                ),
                work,
                1,
            ).collect()
        }
        # forgotten content re-admits as new first-seen; retained
        # content still dedups to the historical survivor
        assert v[100] == (100, True)
        assert v[101] == (3, False)
        # erasing an id that survives nothing is a no-op
        assert forget_from_dedup_state(spark, work, [99999]) == 0
        with pytest.raises(ValueError, match="no state under"):
            forget_from_dedup_state(
                spark, str(tmp_path), [1]
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_prune_outranked_erase_epoch_always_goes(spark, tmp_path):
    """prune_state_versions: a crash-window leftover v<k> superseded
    by its erase epoch v<k>.e1 prunes regardless of *keep* — it is
    invisible to readers but physically retains the forgotten rows."""
    import os

    from etlhelper_spark.operators.dedup_state import (
        prune_state_versions,
    )

    st = tmp_path / "st" / "snap"
    for name in ("v1", "v2", "v2.e1"):
        d = st / name
        os.makedirs(d)
        (d / "_SUCCESS").touch()
    removed = prune_state_versions(str(tmp_path / "st"), "snap", keep=2)
    left = sorted(os.listdir(st))
    # v2 (outranked by its erase epoch) went despite keep=2;
    # v1 and v2.e1 are the two kept ranked versions
    assert removed == 1
    assert left == ["v1", "v2.e1"]
