"""Round-3 operator tests: winnowing fingerprints, SemDeDup pairs,
runtime IN-filter join, and the quality-logit scorer.

Each new operator gets (a) a semantic property check against a plain
Python reference on small data and (b) where the scale story depends
on the plan shape, a plan assertion.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- winnowing
def _py_winnow(text: str, k: int = 8, w: int = 4) -> list[str]:
    """Plain-Python reference implementation of winnow_fingerprints."""
    if len(text) < k:
        return []
    hashes = [
        hashlib.md5(text[i : i + k].encode()).hexdigest()[:8]
        for i in range(len(text) - k + 1)
    ]
    n_windows = max(len(hashes) - w + 1, 1)
    wins = {min(hashes[i : i + w]) for i in range(n_windows)}
    return sorted(wins)


@pytest.mark.parametrize(
    "text",
    [
        "",
        "short",
        "exactly8",
        "just over the k",
        "the quick brown fox jumps over the lazy dog " * 5,
        "aaaaaaaaaaaaaaaaaaaaaa",  # degenerate: identical shingles
    ],
)
def test_winnow_matches_python_reference(spark, text):
    from etlhelper_spark.functions.text import winnow_fingerprints

    row = (
        spark.createDataFrame([(text,)], ["text"])
        .select(winnow_fingerprints(F.col("text")).alias("fps"))
        .first()
    )
    assert row["fps"] == _py_winnow(text)


def test_winnow_shared_substring_guarantee(spark):
    """Any shared substring of length >= k + w - 1 (= 11) must yield at
    least one shared fingerprint — the winnowing paper's guarantee."""
    from etlhelper_spark.functions.text import winnow_fingerprints

    shared = "COMMONSEGMENT"  # 13 chars >= 11
    docs = [(1, f"left padding {shared} and tail one"),
            (2, f"{shared} completely different suffix here")]
    rows = (
        spark.createDataFrame(docs, ["doc_id", "text"])
        .select("doc_id", winnow_fingerprints(F.col("text")).alias("fps"))
        .collect()
    )
    fps = {r["doc_id"]: set(r["fps"]) for r in rows}
    assert fps[1] & fps[2], "shared substring produced no shared fingerprint"


def test_winnow_plan_has_no_shuffle_or_python(spark):
    from etlhelper_spark.functions.text import winnow_fingerprints

    df = spark.createDataFrame([("abcdefghij",)], ["text"]).select(
        winnow_fingerprints(F.col("text")).alias("fps")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan  # no fallback to Python UDF


# ---------------------------------------------------------------- semdedup
def test_semantic_dedup_finds_within_cluster_pairs(spark):
    from etlhelper_spark.functions.dedup import semantic_dedup

    # Two tight groups around orthogonal axes plus one isolated vector.
    # k=2 seeds from the two lowest ids, one per group.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
        (3, [0.0, 0.995, 0.05, 0.0]),   # near-dup of 1
        (4, [0.0, 0.0, 1.0, 0.0]),      # isolated
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = semantic_dedup(
        df, "vec_id", "embedding", k=2, iterations=1, threshold=0.9
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 2) in got
    assert (1, 3) in got
    # cross-cluster pair (0,1) must never be compared/reported
    assert all(a != 0 or b != 1 for a, b in got)
    for r in pairs:
        assert r["sim"] >= 0.9


def test_semantic_dedup_never_crosses_clusters(spark):
    """Even identical vectors in different clusters are not paired —
    the comparison is bounded to within-cluster by construction."""
    from etlhelper_spark.functions.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),
        (1, [-1.0, 0.0]),
        (2, [1.0, 0.0]),
        (3, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = semantic_dedup(
        df, "vec_id", "embedding", k=2, iterations=1, threshold=0.99
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(0, 2), (1, 3)}


# ------------------------------------------------------ runtime IN filter
def test_in_filter_join_matches_semi_join(spark):
    from etlhelper_spark.functions.util import in_filter_join

    fact = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    dim = spark.range(0, 100, 7).select(F.col("id").alias("dk"))
    got = in_filter_join(fact, dim, "k", "dk")
    expected = fact.join(dim, fact["k"] == dim["dk"], "left_semi")
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in expected.collect()
    )


def test_in_filter_join_pushes_in_predicate(spark, tmp_path):
    from etlhelper_spark.functions.util import in_filter_join

    path = str(tmp_path / "fact")
    spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).write.parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.range(0, 50, 5).select(F.col("id").alias("dk"))
    plan = (
        in_filter_join(fact, dim, "k", "dk")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "In(k" in plan, plan


def test_in_filter_join_falls_back_above_max_keys(spark):
    from etlhelper_spark.functions.util import in_filter_join

    fact = spark.range(0, 100).select(F.col("id").alias("k"))
    dim = spark.range(0, 60).select(F.col("id").alias("dk"))
    got = in_filter_join(fact, dim, "k", "dk", max_keys=10)
    assert got.count() == 60  # broadcast-semi fallback, same result


# ------------------------------------------------------------ quality logit
def test_quality_logit_bounded_and_ordered(spark):
    from etlhelper_spark.functions.text import quality_logit

    docs = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "a a a a a a a a a a a a"),       # low diversity
        (3, "!!!.,;;;???...,,,"),              # punctuation noise
    ]
    rows = (
        spark.createDataFrame(docs, ["doc_id", "text"])
        .select("doc_id", quality_logit(F.col("text")).alias("s"))
        .collect()
    )
    scores = {r["doc_id"]: r["s"] for r in rows}
    assert all(0.0 <= s <= 1.0 for s in scores.values())
    assert scores[1] > scores[2] > scores[3]


# ------------------------------------------------------- property sweeps
def test_winnow_matches_python_on_random_corpus(spark):
    """Seeded random corpus, all lengths around the k/w boundaries —
    one DataFrame pass compared row-by-row against the Python
    reference implementation."""
    import random

    from etlhelper_spark.functions.text import winnow_fingerprints

    rng = random.Random(7)
    alphabet = "abcdefg "
    docs = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40))))
        for i in range(80)
    ]
    rows = (
        spark.createDataFrame(docs, "doc_id long, text string")
        .select("doc_id", winnow_fingerprints(F.col("text")).alias("fps"))
        .collect()
    )
    got = {r["doc_id"]: r["fps"] for r in rows}
    for i, text in docs:
        assert got[i] == _py_winnow(text), (i, text)


def test_semantic_dedup_matches_bruteforce_within_clusters(spark):
    """Pairs must equal brute-force pairwise cosine restricted to the
    k-means clusters — the clustering bounds WHICH pairs are compared,
    never changes a similarity value."""
    import math
    import random

    from etlhelper_spark.functions.clustering import kmeans_assignments
    from etlhelper_spark.functions.dedup import semantic_dedup

    rng = random.Random(3)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    assigned = {
        r["id"]: r["cluster_id"]
        for r in kmeans_assignments(
            df, "vec_id", "embedding", k=4, iterations=2
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup(
            df, "vec_id", "embedding", k=4, iterations=2, threshold=0.5
        ).collect()
    }
    lookup = dict(vecs)
    expect = set()
    for a in range(40):
        for b in range(a + 1, 40):
            if assigned[a] != assigned[b]:
                continue
            va, vb = lookup[a], lookup[b]
            dot = sum(x * y for x, y in zip(va, vb))
            na = math.sqrt(sum(x * x for x in va))
            nb = math.sqrt(sum(x * x for x in vb))
            if round(dot / (na * nb), 4) >= 0.5:
                expect.add((a, b))
    assert got == expect


# -------------------------------------------------------- binaryFile ingest
def test_read_media_dir_binaryfile(spark, tmp_path):
    """binaryFile source end-to-end: files on disk -> (path, content)
    rows with exact-dedup metadata -> the same feature pipeline the
    synthesized-asset path uses."""
    import hashlib

    from etlhelper_spark.functions.multimodal import read_media_dir

    media = tmp_path / "assets" / "nested"
    media.mkdir(parents=True)
    (media / "a.jpg").write_bytes(b"\xff\xd8fakejpegbytes")
    (media / "b.jpg").write_bytes(b"\xff\xd8otherjpeg")
    (media / "skip.txt").write_bytes(b"not media")

    df = read_media_dir(spark, str(tmp_path / "assets"), glob="*.jpg")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.jpg", "b.jpg"}  # pathGlobFilter pre-filtered
    a = rows["a.jpg"]
    assert bytes(a["content"]) == b"\xff\xd8fakejpegbytes"
    assert a["n_bytes"] == len(b"\xff\xd8fakejpegbytes")
    assert a["content_sha"] == hashlib.sha256(
        b"\xff\xd8fakejpegbytes"
    ).hexdigest()


# --------------------------------------------------------------- IVM merge
def test_merge_rollup_equals_full_recompute(spark):
    from etlhelper_spark.operators.ivm import merge_rollup, rollup_partial

    rows = [(i, f"g{i % 3}", i * 10) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    hist = df.where(F.col("id") < 40)
    delta = df.where(F.col("id") >= 40)
    base = rollup_partial(hist, ["g"], {"sv": "v"})
    merged = merge_rollup(
        base, rollup_partial(delta, ["g"], {"sv": "v"}), ["g"]
    )
    full = rollup_partial(df, ["g"], {"sv": "v"})
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_merge_rollup_retraction_drops_group(spark):
    """A delete arrives as a negative delta; a fully-retracted group
    disappears from the view instead of lingering at n=0."""
    from etlhelper_spark.operators.ivm import merge_rollup

    base = spark.createDataFrame(
        [("a", 2, 30), ("b", 1, 5)], "g string, n long, sv long"
    )
    delta = spark.createDataFrame(
        [("a", -2, -30), ("b", 1, 7)], "g string, n long, sv long"
    )
    out = {r["g"]: (r["n"], r["sv"]) for r in merge_rollup(base, delta, ["g"]).collect()}
    assert out == {"b": (2, 12)}


def test_winnow_xxhash64_fast_path(spark):
    """The production hash variant keeps the winnowing guarantee and
    fingerprint-count shape; only the hash values differ from md5."""
    from etlhelper_spark.functions.text import winnow_fingerprints

    shared = "COMMONSEGMENT"
    docs = [(1, f"prefix padding {shared} tail one"),
            (2, f"{shared} very different suffix two")]
    rows = (
        spark.createDataFrame(docs, ["doc_id", "text"])
        .select(
            "doc_id",
            winnow_fingerprints(F.col("text"), hash_fn="xxhash64").alias("x"),
            winnow_fingerprints(F.col("text")).alias("m"),
        )
        .collect()
    )
    by_id = {r["doc_id"]: r for r in rows}
    assert set(by_id[1]["x"]) & set(by_id[2]["x"])  # guarantee holds
    for r in rows:  # similar density: counts within 2x of the md5 set
        assert 0 < len(r["x"]) <= 2 * len(r["m"]) + 2


def test_skyline_matches_bruteforce(spark, tmp_path):
    """Bucketed skyline equals the O(n^2) definition on random points."""
    import random

    from etlhelper_spark.plans.queries import q164_skyline  # noqa: F401

    rng = random.Random(5)
    pts = [(i, round(900 + rng.random() * 100, 2), rng.randint(1, 50))
           for i in range(300)]
    df = spark.createDataFrame(pts, "p_partkey long, p_retailprice double, p_size int")
    d = str(tmp_path)
    df.write.parquet(f"{d}/part.parquet")
    got = {(r["price"], r["size"]) for r in q164_skyline(spark, d).collect()}
    dedup = {}
    for i, pr, sz in pts:
        dedup.setdefault((pr, sz), i)
    expect = set()
    for (pr, sz) in dedup:
        if not any(
            (epr <= pr and esz <= sz and (epr < pr or esz < sz))
            for (epr, esz) in dedup
        ):
            expect.add((pr, sz))
    assert got == expect


# ------------------------------------------------------------ edge cases
def test_in_filter_join_null_keys_match_semi_join(spark):
    """NULL dim keys must not change semantics: neither IN nor a semi
    join matches NULL, so results agree with and without NULLs."""
    from pyspark.sql import Row

    from etlhelper_spark.functions.util import in_filter_join

    fact = spark.createDataFrame(
        [Row(k=1), Row(k=2), Row(k=None)], "k int"
    )
    dim = spark.createDataFrame(
        [Row(dk=1), Row(dk=None)], "dk int"
    )
    got = sorted(
        r["k"] for r in in_filter_join(fact, dim, "k", "dk").collect()
    )
    expected = sorted(
        r["k"]
        for r in fact.join(
            dim, fact["k"] == dim["dk"], "left_semi"
        ).collect()
    )
    assert got == expected == [1]


def test_rollup_partial_empty_delta_is_identity(spark):
    from etlhelper_spark.operators.ivm import merge_rollup, rollup_partial

    base = spark.createDataFrame(
        [("a", 2, 30)], "g string, n long, sv long"
    )
    empty = rollup_partial(
        spark.createDataFrame([], "g string, v long"), ["g"], {"sv": "v"}
    )
    out = merge_rollup(base, empty, ["g"]).collect()
    assert [(r["g"], r["n"], r["sv"]) for r in out] == [("a", 2, 30)]


def test_winnow_unicode_char_semantics(spark):
    """substring/length are CHARACTER-based in Spark, DuckDB, and
    Python alike — multi-byte text must produce the same fingerprints
    as the Python reference."""
    from etlhelper_spark.functions.text import winnow_fingerprints

    text = "héllo wörld ünïcode tëxt päyload"
    row = (
        spark.createDataFrame([(text,)], ["text"])
        .select(winnow_fingerprints(F.col("text")).alias("fps"))
        .first()
    )
    assert row["fps"] == _py_winnow(text)


def test_strip_sql_noise_nesting_property():
    """Random interleavings of literals/comments/identifiers: the
    scanner never leaks literal or comment CONTENT into the output,
    and keywords outside them always survive."""
    import random

    from etlhelper_spark.validation import strip_sql_noise

    rng = random.Random(99)
    pieces = [
        "SELECT x",
        "'lit--with comment'",
        "-- line don't\n",
        "/* block 'q' */",
        '"quoted--ident"',
        "RETURNING id",
        "'it''s'",
    ]
    for _ in range(200):
        parts = [rng.choice(pieces) for _ in range(rng.randint(1, 8))]
        sql = " ".join(parts)
        out = strip_sql_noise(sql)
        assert "lit--with comment" not in out
        assert "don't" not in out
        assert "block 'q'" not in out
        assert "quoted--ident" not in out
        assert "it''s" not in out and "it's" not in out
        # keyword outside noise survives iff it was present outside
        if "RETURNING id" in parts:
            assert "RETURNING" in out


def test_monotonic_rollup_minmax_merge(spark):
    from etlhelper_spark.operators.ivm import (
        merge_rollup_monotonic,
        rollup_partial_monotonic,
    )

    rows = [(i, "a" if i < 6 else "b", i * 10) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    base = rollup_partial_monotonic(
        df.where("id < 7"), ["g"], {"sv": "v"}, {"mn": "v"}, {"mx": "v"}
    )
    delta = rollup_partial_monotonic(
        df.where("id >= 7"), ["g"], {"sv": "v"}, {"mn": "v"}, {"mx": "v"}
    )
    merged = {
        r["g"]: (r["n"], r["sv"], r["mn"], r["mx"])
        for r in merge_rollup_monotonic(
            base, delta, ["g"], min_cols=["mn"], max_cols=["mx"]
        ).collect()
    }
    full = {
        r["g"]: (r["n"], r["sv"], r["mn"], r["mx"])
        for r in rollup_partial_monotonic(
            df, ["g"], {"sv": "v"}, {"mn": "v"}, {"mx": "v"}
        ).collect()
    }
    assert merged == full


def test_monotonic_rollup_rejects_retraction(spark):
    import pytest as _pytest

    from etlhelper_spark.operators.ivm import merge_rollup_monotonic

    base = spark.createDataFrame(
        [("a", 2, 30, 10, 20)], "g string, n long, sv long, mn long, mx long"
    )
    delta = spark.createDataFrame(
        [("a", -1, -10, 10, 20)], "g string, n long, sv long, mn long, mx long"
    )
    with _pytest.raises(Exception, match="retraction"):
        merge_rollup_monotonic(
            base, delta, ["g"], min_cols=["mn"], max_cols=["mx"]
        ).collect()
