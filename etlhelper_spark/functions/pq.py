"""Product quantization (PQ) for embedding compression and
asymmetric-distance (ADC) search — the storage-side companion to the
IVF index (ann_index.py): IVF prunes WHICH vectors a query scores,
PQ shrinks WHAT each stored vector costs (m one-byte codes instead of
dim floats — 16-64x smaller, the difference between an embedding
corpus that fits executor memory and one that doesn't at 10^10+
vectors).

Spark-first decomposition, mirroring the clustering module's design
(clustering.py — literal-centroid codegen argmax, bounded driver
state):

- TRAIN: spherical (cosine) k-means per SUBSPACE, all subspaces in
  ONE corpus scan per Lloyd round — the per-subspace assignment is m
  independent literal-pivot folds inside a single projection, so the
  corpus is never scanned per subspace and never shuffles for
  assignment. Centroid recompute is clustering.py's Lloyd update
  (_centroid_rows) over (sub, code) groups for every subspace at
  once; the m x k x sub_dim result collects to the driver (the
  bounded-driver contract collect_pivot_rows already makes).
  Components round through DECIMAL(30,10) to 6dp per round — the
  cross-engine contract that makes training hash-verifiable (q141's
  discipline).
- ENCODE: one scan, m literal folds, output (id, array<int> codes).
  The corpus's float payload is read once and never moves again.
  Every per-subspace code choice — training rounds, encoding, and
  the IVFPQ encode and rebalance re-encode — is _subspace_argmax.
- ADC SEARCH: per query, an m x k table of subspace dot products and
  a k-entry norm table per subspace become LITERALS (queries are the
  bounded side, like query_ivf_index's probe list); every encoded row
  scores with m array lookups + an explicit m-term sum — pure codegen
  over the (tiny) codes column, no vector payload touched. ADC cosine
  approximates cos(q, x) by substituting each subvector with its
  centroid: sum_j dot(q_j, c_j[code_j]) / (|q| * sqrt(sum_j
  |c_j[code_j]|^2)).

The explicit index-ordered m-term additions (not an unordered SQL
SUM) keep float summation order identical across engines — the same
determinism discipline as _dot's sequential fold.

Reference parity note: the reference (a DB-API cursor wrapper) has no
vector search; this module extends the suite's ANN family
(similarity.py, ann_index.py) with the compression tier every
100 TB embedding deployment uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clustering import _centroid_rows, _round6
from .similarity import _dlit
from .util import literal_frame

__all__ = [
    "append_pq_codes",
    "build_pq_index",
    "load_pq_codebooks",
    "pq_adc_topk",
    "pq_codebook_df",
    "pq_encode",
    "pq_train",
    "read_pq_codes",
]


def _sub_dim(df: DataFrame, vec_col: str, m_sub: int) -> int:
    d0 = df.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = int(d0["d"])
    if dim % m_sub:
        raise ValueError(
            f"pq: vector dim {dim} not divisible into {m_sub} subspaces"
        )
    return dim // m_sub


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = 4,
    k_codes: int = 8,
    iterations: int = 2,
    arrow: bool = False,
    metric: str = "cosine",
) -> dict[int, list[tuple[int, list[float]]]]:
    """Train per-subspace codebooks: spherical k-means with
    deterministic seeds (the k_codes lowest-id vectors' subvectors,
    6dp-rounded), *iterations* Lloyd rounds, ALL subspaces per corpus
    scan. Returns {sub: [(code, centroid), ...]} with centroids
    6dp-rounded. *arrow* routes the per-round assignment through the
    Arrow-batched numpy argmax — the large-codebook path (see
    _assign); keep the default for oracle-pinned training.

    *metric* selects the assignment rule: ``cosine`` (spherical, the
    suite default) or ``l2`` (Euclidean — the FAISS-standard choice
    for RESIDUAL quantizers, where centroid magnitude is part of the
    reconstruction and direction-only assignment wrecks it). The
    centroid recompute (component mean) is the L2-optimal update in
    both modes, so only the assignment fold changes.

    Code ids are DENSE 0..k-1 in seed-id order — never the raw vector
    ids. Raw ids at the 10^10-vector scale this module targets are
    snowflake/hash longs whose int cast in pq_encode would silently
    wrap (non-ANSI), miss pq_adc_topk's code->slot map, and turn every
    ADC score into the -1.0 NULL fallback. Dense codes are also the
    point of PQ: m codes that fit a byte, independent of id magnitude.

    A code whose cluster empties during a round drops out (the same
    contract as the k-means oracle); ties in the per-subspace argmax
    break (cosine desc, code asc) — the engine/oracle total order.
    Dense relabeling preserves seed-id order, so the tie-break total
    order (and therefore every assignment) is unchanged up to the
    relabel."""
    from pyspark.sql import Window

    sd = _sub_dim(df, vec_col, m_sub)
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    # k rows — the single-partition window is bounded by k_codes
    seeds = (
        vecs.orderBy(F.col("id").asc())
        .limit(k_codes)
        .withColumn(
            "code",
            F.row_number().over(Window.orderBy(F.col("id").asc())) - 1,
        )
    )
    # ONE collect for every subspace's seed slice (the per-subspace
    # collect_pivot_rows form paid m_sub jobs + m_sub plan analyses
    # for the same k rows)
    seed_rows = seeds.select(
        F.col("code"),
        *[
            F.transform(
                F.slice("vec", j * sd + 1, sd), lambda x: _round6(x)
            ).alias(f"__c{j}")
            for j in range(m_sub)
        ],
    ).orderBy("code").collect()
    books = {
        j: [
            (int(r["code"]), [float(x) for x in r[f"__c{j}"]])
            for r in seed_rows
        ]
        for j in range(m_sub)
    }
    for _ in range(iterations - 1):
        assigned = _assign(vecs, books, arrow=arrow, metric=metric)
        # every subspace's members in ONE centroid update over
        # (sub, code) groups of the subvectors
        trips = assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("sub"),
                            F.col(f"__b{j}").alias("code"),
                            F.slice("vec", j * sd + 1, sd).alias("sv"),
                        )
                        for j in range(len(books))
                    ]
                )
            ).alias("t")
        )
        books = {j: [] for j in range(m_sub)}
        for (j, code), centroid in _centroid_rows(
            trips, ["t.sub", "t.code"], "t.sv"
        ):
            books[j].append((code, centroid))
    return books


def _subspace_argmax(
    vec_col: str, books: dict, metric: str = "cosine", arrow: bool = False
) -> list:
    """The m per-subspace nearest-code columns (code ids, long) of
    *vec_col* against *books* — the one place a subvector picks its
    code. Literal folds by default (zero shuffle, zero expansion), or
    with *arrow* the Arrow-batched numpy argmax (nearest_pivot_batched's
    rationale: the literal fold does k x sub_dim interpreted
    higher-order ops per row per subspace, so at k=64 x m=8 it is ~4k
    interpreted ops/row — measured 58s/Lloyd round at 200k vectors vs
    ~3s batched; one numpy matmul per Arrow batch per subspace scores
    every (row, code) pair at once). Tie-break parity modulo one ulp —
    oracle-pinned PQ queries keep the literal path. *metric* as in
    pq_train — ``l2`` swaps in the Euclidean kernels, same shape."""
    from . import similarity as sim

    sd = len(next(iter(books.values()))[0][1])
    if arrow:
        kernel = (
            sim.nearest_pivot_l2_batched
            if metric == "l2"
            else sim.nearest_pivot_batched
        )
        return [
            kernel(books[j])(F.slice(vec_col, j * sd + 1, sd))["pid"]
            for j in sorted(books)
        ]
    kernel = sim.nearest_pivot_l2 if metric == "l2" else sim.nearest_pivot
    return [
        kernel(f"slice(`{vec_col}`, {j * sd + 1}, {sd})", books[j])["pid"]
        for j in sorted(books)
    ]


def _codes_col(
    vec_col: str, books: dict, metric: str = "cosine", arrow: bool = False
):
    """The ``codes`` array<int> column of *vec_col* (_subspace_argmax's
    codes in subspace order)."""
    return F.array(
        *[c.cast("int") for c in _subspace_argmax(vec_col, books, metric, arrow)]
    ).alias("codes")


def _assign(
    vecs: DataFrame,
    books: dict,
    arrow: bool = False,
    metric: str = "cosine",
) -> DataFrame:
    """(id, vec, __b0..__b{m-1}): every subspace's nearest code in one
    projection (_subspace_argmax)."""
    return vecs.select(
        "id",
        "vec",
        *[
            c.alias(f"__b{j}")
            for j, c in zip(
                sorted(books), _subspace_argmax("vec", books, metric, arrow)
            )
        ],
    )


def pq_codebook_df(spark, books: dict) -> DataFrame:
    """Codebooks as a (sub, code, centroid) frame — the persistable /
    verifiable form."""
    data = [
        (j, code, centroid)
        for j in sorted(books)
        for code, centroid in books[j]
    ]
    return literal_frame(
        spark, data, "sub int, code int, centroid array<double>"
    )


def _codebook_table(books: dict):
    """Codebooks as a pyarrow Table in pq_codebook_df's exact layout
    (sub int, code int, centroid array<double>) — the driver-side
    persist form (util.write_sidecar_table): books are already
    driver-known, so the Spark write job the frame form paid per
    index build carries zero information."""
    import pyarrow as _pa

    rows = [
        (j, code, centroid)
        for j in sorted(books)
        for code, centroid in books[j]
    ]
    return _pa.table(
        {
            "sub": _pa.array([int(r[0]) for r in rows], _pa.int32()),
            "code": _pa.array([int(r[1]) for r in rows], _pa.int32()),
            "centroid": _pa.array(
                [[float(x) for x in r[2]] for r in rows],
                _pa.list_(_pa.float64()),
            ),
        }
    )


def pq_encode(
    df: DataFrame,
    books: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow: bool = False,
) -> DataFrame:
    """Encode the corpus to (id, codes array<int>): one scan, m
    literal folds (or the Arrow-batched argmax with *arrow* — the
    large-codebook path) — after this the float payload never moves
    again."""
    _sub_dim(df, vec_col, len(books))  # raises on a dim m cannot split
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return vecs.select("id", _codes_col("vec", books, arrow=arrow))


def _adc_query_frame(
    queries: DataFrame,
    books: dict,
    query_id: str,
    vec_col: str,
    extra: list | None = None,
) -> DataFrame:
    """(query_id, __qnorm, __dt0..__dt{m-1} [, *extra]): per-query
    literal dot tables — element i of __dt{j} is dot(q_j, centroid_i)
    for subspace j's i-th codebook entry (python-sequential == fold
    order), plus the query's own norm. Queries are the bounded side,
    so these tables broadcast with the query row. *extra* columns
    (e.g. an IVF probe-list array) ride the same single projection."""
    sd = None
    qcols = []
    for j in sorted(books):
        rows = books[j]
        if sd is None:
            sd = len(rows[0][1])
        dots = ", ".join(
            "aggregate(zip_with(slice({v}, {s}, {l}), array({c}), "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, w) -> acc + w)".format(
                v=vec_col,
                s=j * sd + 1,
                l=sd,
                c=", ".join(_dlit(x) for x in cent),
            )
            for _code, cent in rows
        )
        qcols.append(F.expr(f"array({dots})").alias(f"__dt{j}"))
    return queries.select(
        F.col(query_id).alias("query_id"),
        F.sqrt(
            F.aggregate(
                F.transform(
                    F.col(vec_col),
                    lambda x: x.cast("double") * x.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ).alias("__qnorm"),
        *qcols,
        *(extra or []),
    )


def _adc_sim_col(books: dict):
    """The 4dp-rounded ADC cosine column over a row holding ``codes``
    plus _adc_query_frame's literal tables: m table lookups + an
    explicit index-ordered sum (cross-engine summation order), the
    code->slot maps and norm tables folded in as literals (codebooks
    may have dropped empty codes, so lookups go through a dense
    slot)."""
    codemaps = {
        j: {code: slot for slot, (code, _c) in enumerate(books[j])}
        for j in books
    }
    norm_tables = {
        j: [sum(x * x for x in cent) for _code, cent in books[j]]
        for j in books
    }

    def slot(j):
        entries = ", ".join(
            f"{code}, {s}" for code, s in codemaps[j].items()
        )
        return F.expr(f"element_at(map({entries}), codes[{j}]) + 1")

    adc_dot = None
    cnorm2 = None
    for j in sorted(books):
        term = F.element_at(F.col(f"__dt{j}"), slot(j))
        nlit = F.expr(
            "array({})".format(
                ", ".join(_dlit(x) for x in norm_tables[j])
            )
        )
        nterm = F.element_at(nlit, slot(j))
        adc_dot = term if adc_dot is None else adc_dot + term
        cnorm2 = nterm if cnorm2 is None else cnorm2 + nterm
    return (
        F.round(
            F.coalesce(
                F.try_divide(adc_dot, F.col("__qnorm") * F.sqrt(cnorm2)),
                F.lit(-1.0),
            ).cast("decimal(30,10)"),
            4,
        ).cast("double")
    )


def pq_adc_topk(
    encoded: DataFrame,
    books: dict,
    queries: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: each query scores every encoded row
    with m table lookups + an explicit index-ordered sum — the codes
    column is the ONLY corpus data touched. Queries are the bounded
    side: their per-subspace dot/norm tables become literal arrays
    (indexed by code id), broadcast with the query row.

    Returns (query_id, neighbor_id, adc_sim) with rank <= k per query
    by (adc desc, neighbor asc); self-matches are not excluded (the
    caller filters if needed). adc_sim is rounded to 4dp — the suite's
    similarity output contract."""
    from pyspark.sql import Window

    q = _adc_query_frame(queries, books, query_id, vec_col)
    scored = (
        encoded.crossJoin(F.broadcast(q))
        .withColumn("adc_sim", _adc_sim_col(books))
        .select(
            "query_id", F.col("id").alias("neighbor_id"), "adc_sim"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= int(k))
        .drop("rn")
    )


def build_pq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = 4,
    k_codes: int = 8,
    iterations: int = 2,
) -> int:
    """Train codebooks on *corpus* and persist BOTH the codebooks
    (``_codebooks`` subdir — the underscore hides it from the codes
    table's file listing, the ann_index._pivots convention) and the
    corpus's codes. The persisted form is the deployable PQ index:
    train once, encode every future batch against the FROZEN
    codebooks (append_pq_codes), search forever from codes alone.
    Returns the number of encoded vectors."""
    import os

    books = pq_train(corpus, id_col, vec_col, m_sub, k_codes, iterations)
    from .util import count_parquet_rows, write_sidecar_table

    # books are driver-known: persist the sidecar driver-side (one
    # fewer Spark write job per build — util.write_sidecar_table)
    write_sidecar_table(
        os.path.join(path, "_codebooks"), _codebook_table(books)
    )

    pq_encode(corpus, books, id_col, vec_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "codes"))
    # footer-sum count: the overwrite is complete, so the footers ARE
    # the table — no checkpoint job, no re-scan (one encode scan total)
    return count_parquet_rows(os.path.join(path, "codes"))


def load_pq_codebooks(spark, path: str) -> dict:
    """Read persisted codebooks back into the {sub: [(code, centroid)]}
    form every PQ kernel consumes. Driver-side pyarrow read
    (util.read_sidecar_table): the codebook sidecar is m x k rows and
    is re-read on every append/probe, so the spark.read+collect form
    paid two fixed-overhead jobs per call for identical bytes."""
    import os

    from .util import read_sidecar_table

    tbl = read_sidecar_table(os.path.join(path, "_codebooks"))
    if tbl is None:
        raise ValueError(
            f"load_pq_codebooks: no codebook data files under {path}"
        )
    d = tbl.to_pydict()
    rows = sorted(
        zip(d["sub"], d["code"], d["centroid"]),
        key=lambda r: (r[0], r[1]),
    )
    books: dict[int, list] = {}
    for sub, code, centroid in rows:
        books.setdefault(int(sub), []).append(
            (int(code), [float(x) for x in centroid])
        )
    return books


def append_pq_codes(
    new_corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Encode a new batch against the index's FROZEN codebooks and
    append its codes — the ingest path of a deployed PQ index
    (append_ivf_index's contract applied to compression): because
    encoding depends only on the codebooks, an index built on batch 1
    and appended with batch 2 is content-identical to one built with
    the same codebooks over the union — per-batch cost is one linear
    scan + an O(batch) write of m-byte codes, zero shuffle. The known
    trade is the same as IVF's frozen pivots: codebooks drift from the
    data distribution over time — monitor quantization error and
    retrain when it warrants. Returns the appended count."""
    import os

    from .util import count_parquet_rows

    spark = new_corpus.sparkSession
    books = load_pq_codebooks(spark, path)
    # footer-delta count (single-writer store contract): the append
    # adds files, so the appended count is the footer-sum delta — one
    # encode scan total, no checkpoint job, no re-scan
    before = count_parquet_rows(os.path.join(path, "codes"))
    pq_encode(new_corpus, books, id_col, vec_col).write.mode(
        "append"
    ).parquet(os.path.join(path, "codes"))
    return count_parquet_rows(os.path.join(path, "codes")) - before


def read_pq_codes(spark, path: str) -> DataFrame:
    """The accumulated (id, codes) table of a persisted PQ index."""
    import os

    from .util import read_parquet_state

    return read_parquet_state(spark, os.path.join(path, "codes"))
