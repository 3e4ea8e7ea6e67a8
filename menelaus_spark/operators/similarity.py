"""Similarity search over embedding columns: brute-force cosine top-k
(the exact baseline) and a random-hyperplane LSH-bucketed ANN variant
(the scale path: candidates come only from matching buckets).

Dot products are JVM-side ``zip_with``/``aggregate`` expressions —
whole-stage codegen, no Python. The hyperplane projections are also
plain expressions over a broadcast literal plane matrix, so the ANN
bucketing adds zero Python overhead.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from menelaus_spark.operators.dedup import cosine_cols


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple[str, list[float]]],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine for each query vector: broadcast the tiny
    query table, one scan of the corpus, per-query window top-k.
    Returns (query_id, id, cosine, rank)."""
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(qid, [float(x) for x in v]) for qid, v in queries],
        schema="query_id string, qvec array<double>",
    )
    scored = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).crossJoin(F.broadcast(qdf)).withColumn(
        "cosine", F.round(cosine_cols(F.col("__v"), F.col("qvec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col), "cosine", "rank")
    )


def _dbl_sql(x) -> str:
    """One double as SQL: ``repr`` emits the shortest round-trip
    decimal, which Spark's parser reads back to the identical double;
    NaN/infinity have no literal form, so they are cast from strings
    (and propagate exactly as they did under ``F.lit``)."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    return "CAST('{}' AS DOUBLE)".format(
        "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity"))


def _dbl_array_sql(values) -> str:
    """A SQL double-array literal. Building literal arrays as ONE
    parsed expression instead of per-element ``F.lit`` Columns cuts
    hundreds of driver py4j round-trips per plane/centroid matrix
    (measured 0.48 s -> 0.01 s for 8x64 literals)."""
    return "array(" + ",".join(_dbl_sql(x) for x in values) + ")"


def _bucket_expr(vec_sql: str, planes: np.ndarray):
    """Sign-bit bucket id from hyperplane projections, as a pure
    column expression (planes inlined as array literals). Same CASE
    WHEN sum as the historical per-Column construction."""
    terms = ["0"]
    for i, plane in enumerate(planes):
        dot = (f"aggregate(zip_with({vec_sql}, {_dbl_array_sql(plane)}, "
               "(x, y) -> x * y), 0.0D, (a, x) -> a + x)")
        terms.append(f"if({dot} > 0, {2 ** i}, 0)")
    return F.expr(" + ".join(terms))


def lsh_ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple[str, list[float]]],
    k: int = 10,
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: random-hyperplane signs bucket the corpus
    (2^n_planes buckets); each query searches its own bucket plus all
    buckets within ``multiprobe_hamming`` bit flips (multi-probe LSH
    recall boost). Corpus bucketing is one pass and cacheable/bucketable
    at scale; per-query work shrinks by ~2^n_planes / probes."""
    if dim is None:
        dim = len(queries[0][1])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    corpus = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).withColumn("bucket", _bucket_expr("__v", planes))

    # driver-side query bucketing (queries are tiny)
    def q_bucket(v):
        return int(sum((planes[i] @ np.asarray(v) > 0) << i for i in range(n_planes)))

    probe_rows = []
    for qid, v in queries:
        base = q_bucket(v)
        buckets = {base}
        if multiprobe_hamming >= 1:
            buckets |= {base ^ (1 << i) for i in range(n_planes)}
        if multiprobe_hamming >= 2:
            for i in range(n_planes):
                for j in range(i + 1, n_planes):
                    buckets.add(base ^ (1 << i) ^ (1 << j))
        for bkt in sorted(buckets):
            probe_rows.append((qid, [float(x) for x in v], bkt))
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        probe_rows, schema="query_id string, qvec array<double>, bucket int"
    )
    scored = corpus.join(F.broadcast(qdf), on="bucket").withColumn(
        "cosine", F.round(cosine_cols(F.col("__v"), F.col("qvec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col), "cosine", "rank")
    )


def ivf_ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple[str, list[float]]],
    k: int = 10,
    n_lists: int = 8,
    nprobe: int = 2,
    sample_cap: int = 100_000,
    n_iters: int = 20,
    seed: int = 42,
    literal_cutoff: int = 4096,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the cluster-pruned
    counterpart of :func:`lsh_ann_topk`: a seeded spherical k-means
    coarse quantizer (the same Lloyd kernel as
    ``dedup.kmeans_blocks``) assigns every corpus vector to one of
    ``n_lists`` inverted lists in ONE pass; each query exact-reranks
    ONLY its ``nprobe`` nearest lists' members. Assignment argmax
    compares dots rounded at 1e-6 with HALF-AWAY ties (the
    tie-stable cross-engine recipe the k-means block oracle uses);
    first occurrence (lowest list id) wins equal dots.

    Assignment has two physically different, semantically identical
    paths, switched on ``n_lists × dim`` vs ``literal_cutoff``:
    small quantizers inline the centroids as JVM array literals
    (whole-stage codegen, zero Python — and the config the DuckDB
    oracle replays); production fan-outs (n_lists ≥ 256, dim ≥ 64
    would put ~10^5-10^6 literals in the Catalyst tree and blow up
    plan compile) broadcast the (k, d) centroid matrix in an Arrow
    ``pandas_udf`` closure and compute the argmax as ONE BLAS GEMM
    per batch — the `kmeans_blocks` kernel (dedup.py).

    Scale shape: training reads a bounded id-sorted sample; list
    assignment is shuffle-free on either path; the probe join
    shuffles only the probed lists' members (~nprobe/n_lists of the
    corpus per query batch). At 10^9+ vectors the corpus-side frame
    is write-once (list id is a stable derived column — persist or
    bucket it by list).
    """
    from menelaus_spark.operators.dedup import _lloyd

    sample = np.asarray(
        [
            list(r["__v"])
            for r in df.select(
                F.col(id_col).alias("__id"),
                F.col(vec_col).cast("array<double>").alias("__v"),
            )
            .orderBy("__id")
            .limit(sample_cap)
            .collect()
        ],
        dtype=np.float64,
    )
    centroids = _lloyd(sample, n_lists, n_iters, seed)

    corpus = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    if centroids.size <= literal_cutoff:

        def dot6(vec_sql, c):
            # one parsed expression per centroid (see _dbl_array_sql)
            return F.expr(
                f"round(aggregate(zip_with({vec_sql}, {_dbl_array_sql(c)}, "
                "(x, y) -> x * y), 0.0D, (a, x) -> a + x) * 1000000.0D)")

        dots = F.array(*[dot6("__v", c) for c in centroids])
        # argmax over rounded dots; first occurrence wins ties (same
        # ORDER BY d6 DESC, ci semantics as the SQL twin)
        list_col = (F.array_position(dots, F.array_max(dots)) - 1).cast("int")
    else:
        from pyspark.sql.functions import pandas_udf

        C = centroids

        @pandas_udf("int")
        def assign_udf(v: pd.Series) -> pd.Series:
            M = np.asarray(v.tolist(), dtype=np.float64)
            D = M @ C.T
            # 1e-6 quantization with HALF-AWAY rounding = the literal
            # path's F.round(dot*1e6); np.argmax first-wins = lowest
            # list id on ties, matching array_position semantics
            D6 = np.copysign(np.floor(np.abs(D) * 1e6 + 0.5), D)
            return pd.Series(np.argmax(D6, axis=1).astype(np.int32))

        list_col = assign_udf(F.col("__v"))
    corpus = corpus.withColumn("list_id", list_col)

    # _lloyd clamps k to the number of distinct non-zero sampled
    # vectors, so probe over the centroids that actually exist (a
    # degenerate sample would otherwise IndexError on qd[i])
    n_eff = len(centroids)
    probe_rows = []
    for qid, v in queries:
        qd = np.round(centroids @ np.asarray(v, dtype=np.float64) * 1e6)
        order = sorted(range(n_eff), key=lambda i: (-qd[i], i))[: min(nprobe, n_eff)]
        for li in order:
            probe_rows.append((qid, [float(x) for x in v], int(li)))
    qdf = df.sparkSession.createDataFrame(
        probe_rows, schema="query_id string, qvec array<double>, list_id int"
    )
    scored = corpus.join(F.broadcast(qdf), on="list_id").withColumn(
        "cosine", F.round(cosine_cols(F.col("__v"), F.col("qvec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col), "cosine", "rank")
    )


def _lloyd_l2(X: np.ndarray, k: int, n_iters: int, seed: int) -> np.ndarray:
    """Seeded PLAIN-L2 k-means (Lloyd's) — the sub-quantizer trainer
    for product quantization. Unlike ``dedup._lloyd`` it does NOT
    normalize (PQ subvectors are not unit vectors). Deterministic and
    arrival-order-independent: rows are lexsorted before the seeded
    init, so a DuckDB oracle regenerates identical codebooks from the
    same sampled rows. Assignment uses the shared cross-engine tie
    rule: the dot-based surrogate (v.c - 0.5|c|^2) rounded at 1e-6
    HALF-AWAY, lowest code wins ties."""
    rng = np.random.default_rng(seed)
    X = X[np.lexsort(X.T[::-1])]
    k = min(k, len(X))
    if k < 1:
        return np.zeros((1, X.shape[1] if X.ndim == 2 else 1))
    C = X[rng.choice(len(X), size=k, replace=False)].astype(np.float64)
    for _ in range(n_iters):
        S = X @ C.T - 0.5 * np.einsum("ij,ij->i", C, C)
        S6 = np.copysign(np.floor(np.abs(S) * 1e6 + 0.5), S)
        assign = np.argmax(S6, axis=1)
        newC = np.zeros_like(C)
        for j in range(k):
            members = X[assign == j]
            newC[j] = members.mean(axis=0) if len(members) else C[j]
        if np.allclose(newC, C):
            C = newC
            break
        C = newC
    return C


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    n_codes: int = 16,
    sample_cap: int = 100_000,
    n_iters: int = 20,
    seed: int = 42,
) -> np.ndarray:
    """Train product-quantization codebooks on a bounded id-sorted
    sample: the vector splits into ``m`` contiguous subspaces and each
    gets its own ``n_codes``-centroid plain-L2 k-means. Returns the
    (m, n_codes, d/m) codebook tensor. The dimension must divide
    evenly by ``m`` (raise early — silent padding would corrupt every
    downstream distance)."""
    rows = (
        df.select(F.col(id_col).alias("__id"),
                  F.col(vec_col).cast("array<double>").alias("__v"))
        .orderBy("__id")
        .limit(sample_cap)
        .collect()
    )
    X = np.asarray([list(r["__v"]) for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    return np.stack([
        _lloyd_l2(X[:, j * ds:(j + 1) * ds], n_codes, n_iters, seed + j)
        for j in range(m)
    ])


def pq_ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple[str, list[float]]],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    sample_cap: int = 100_000,
    n_iters: int = 20,
    seed: int = 42,
    codebooks: np.ndarray | None = None,
    rerank: int = 0,
) -> DataFrame:
    """Product-quantization approximate top-k — the MEMORY-bound scale
    path alongside IVF's compute-bound one: every corpus vector is
    compressed to ``m`` sub-codes (m=8, n_codes=16 -> 8 bytes/vector
    vs 512 for a float64[64] — a 64x state reduction; at 10^12
    vectors the code table fits a cluster's RAM where raw vectors
    cannot), and queries score candidates via asymmetric distance:
    one (m x n_codes) lookup table of exact query-sub-centroid dots
    per query, gathered by code — never touching raw corpus vectors.

    Approximate cosine = ADC dot / (|q| x |v|) with the EXACT
    per-vector norm stored as one double at encode time (norms are
    cheap; directions are what PQ compresses). Encode is one Arrow
    pandas_udf pass (m BLAS GEMMs per batch); scoring is pure JVM —
    the per-query LUT broadcasts as an array<array<double>> column
    and the gather is zip_with + element_at, whole-stage codegen.
    Every argmin/argmax uses the shared 1e-6-rounded surrogate with
    lowest-index ties, so a DuckDB twin replays the whole pipeline
    from the same regenerated codebooks.

    ``rerank=r > 0`` adds the production second stage: the PQ shortlist
    of r candidates per query is joined back to the raw vectors and
    exact-cosine reranked — only r x n_queries vectors are ever read,
    so the corpus-wide pass still touches codes + norms alone. Output
    then carries exact ``cosine`` (column name unchanged vs
    :func:`cosine_topk`, so the two are drop-in comparable).
    """
    if codebooks is None:
        codebooks = pq_train(df, id_col, vec_col, m, n_codes,
                             sample_cap, n_iters, seed)
    CB = np.asarray(codebooks, dtype=np.float64)  # (m, n_codes, ds)
    m_eff, _nc, ds = CB.shape
    # -0.5|c|^2 bias per (subspace, code): argmin L2 == argmax biased dot
    bias = 0.5 * np.einsum("mcd,mcd->mc", CB, CB)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def encode_udf(v: pd.Series) -> pd.Series:
        M = np.asarray(v.tolist(), dtype=np.float64)
        codes = np.empty((len(M), m_eff), dtype=np.int32)
        for j in range(m_eff):
            S = M[:, j * ds:(j + 1) * ds] @ CB[j].T - bias[j]
            S6 = np.copysign(np.floor(np.abs(S) * 1e6 + 0.5), S)
            codes[:, j] = np.argmax(S6, axis=1)
        return pd.Series(list(codes))

    vec = F.col(vec_col).cast("array<double>")
    corpus = df.select(
        F.col(id_col),
        encode_udf(vec).alias("codes"),
        F.sqrt(F.aggregate(F.zip_with(vec, vec, lambda x, y: x * y),
                           F.lit(0.0), lambda a, x: a + x)).alias("vnorm"),
    )

    lut_rows = []
    for qid, v in queries:
        q = np.asarray(v, dtype=np.float64)
        qn = float(np.sqrt(q @ q))
        lut = [
            [float(q[j * ds:(j + 1) * ds] @ CB[j, c]) for c in range(_nc)]
            for j in range(m_eff)
        ]
        lut_rows.append((str(qid), lut, qn))
    qdf = df.sparkSession.createDataFrame(
        lut_rows, schema="query_id string, lut array<array<double>>, qnorm double"
    )
    scored = corpus.crossJoin(F.broadcast(qdf)).withColumn(
        "approx_cosine",
        F.round(
            F.aggregate(
                F.zip_with(F.col("lut"), F.col("codes"),
                           lambda lutrow, code: F.element_at(lutrow, code + 1)),
                F.lit(0.0), lambda a, x: a + x,
            )
            / F.when(F.col("vnorm") * F.col("qnorm") > 0,
                     F.col("vnorm") * F.col("qnorm")).otherwise(F.lit(1.0)),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cosine"), F.col(id_col))
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= max(k, rerank))
        .select("query_id", F.col(id_col), "approx_cosine", "rank")
    )
    if rerank <= 0:
        return shortlist.filter(F.col("rank") <= k)
    qv = df.sparkSession.createDataFrame(
        [(str(qid), [float(x) for x in v]) for qid, v in queries],
        schema="query_id string, qvec array<double>",
    )
    # broadcast the SHORTLIST (<= rerank x n_queries rows), never the
    # corpus: at sf-test sizes Spark's size estimate would otherwise
    # broadcast the raw-vector table — harmless here, catastrophic at
    # 10^12 rows (the explicit hint pins the at-scale plan: one scan
    # of the vector column filtered by the tiny broadcast relation)
    cand = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).join(F.broadcast(shortlist.drop("rank")), on=id_col).join(
        F.broadcast(qv), on="query_id"
    ).withColumn(
        "cosine", F.round(cosine_cols(F.col("__v"), F.col("qvec")), 6)
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col), "cosine", "rank")
    )


def ivfpq_ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple[str, list[float]]],
    k: int = 10,
    n_lists: int = 8,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    sample_cap: int = 100_000,
    n_iters: int = 20,
    seed: int = 42,
    rerank: int = 0,
    literal_cutoff: int = 4096,
) -> DataFrame:
    """IVF x PQ — the production ANN architecture at 10^12 vectors:
    the IVF coarse quantizer prunes WHICH vectors each query touches
    (~nprobe/n_lists of the corpus), PQ compresses WHAT is read for
    the ones it does touch (m sub-codes + one norm instead of the raw
    vector), and an optional exact rerank of the final shortlist
    restores recall. Composition of :func:`ivf_ann_topk`'s coarse
    assignment (same spherical quantizer, same rounded-dot tie rule)
    with :func:`pq_ann_topk`'s codebooks/ADC (trained on the SAME
    id-sorted sample) — both stages keep their cross-engine
    determinism, so the DuckDB twin replays the whole pipeline.

    Scale shape: the corpus-side frame (list_id, codes, vnorm) is
    write-once and ~50-100x smaller than the raw vectors — THIS is
    the table a 10^12-vector deployment persists and bucket-joins;
    raw vectors are read only by the rerank stage, k x n_queries
    rows at a time.
    """
    from menelaus_spark.operators.dedup import _lloyd

    rows = (
        df.select(F.col(id_col).alias("__id"),
                  F.col(vec_col).cast("array<double>").alias("__v"))
        .orderBy("__id")
        .limit(sample_cap)
        .collect()
    )
    X = np.asarray([list(r["__v"]) for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    coarse = _lloyd(X, n_lists, n_iters, seed)
    CB = np.stack([
        _lloyd_l2(X[:, j * ds:(j + 1) * ds], n_codes, n_iters, seed + j)
        for j in range(m)
    ])
    bias = 0.5 * np.einsum("mcd,mcd->mc", CB, CB)
    m_eff, _nc = CB.shape[0], CB.shape[1]

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<list_id: int, codes: array<int>>")
    def encode_udf(v: pd.Series) -> pd.DataFrame:
        M = np.asarray(v.tolist(), dtype=np.float64)
        D = M @ coarse.T
        D6 = np.copysign(np.floor(np.abs(D) * 1e6 + 0.5), D)
        lists = np.argmax(D6, axis=1).astype(np.int32)
        codes = np.empty((len(M), m_eff), dtype=np.int32)
        for j in range(m_eff):
            S = M[:, j * ds:(j + 1) * ds] @ CB[j].T - bias[j]
            S6 = np.copysign(np.floor(np.abs(S) * 1e6 + 0.5), S)
            codes[:, j] = np.argmax(S6, axis=1)
        return pd.DataFrame({"list_id": lists, "codes": list(codes)})

    vec = F.col(vec_col).cast("array<double>")
    corpus = df.select(
        F.col(id_col),
        encode_udf(vec).alias("__e"),
        F.sqrt(F.aggregate(F.zip_with(vec, vec, lambda x, y: x * y),
                           F.lit(0.0), lambda a, x: a + x)).alias("vnorm"),
    ).select(id_col, F.col("__e.list_id").alias("list_id"),
             F.col("__e.codes").alias("codes"), "vnorm")

    n_eff = len(coarse)
    probe_rows = []
    for qid, v in queries:
        q = np.asarray(v, dtype=np.float64)
        qn = float(np.sqrt(q @ q))
        lut = [
            [float(q[j * ds:(j + 1) * ds] @ CB[j, c]) for c in range(_nc)]
            for j in range(m_eff)
        ]
        qd = np.round(coarse @ q * 1e6)
        order = sorted(range(n_eff), key=lambda i: (-qd[i], i))[: min(nprobe, n_eff)]
        for li in order:
            probe_rows.append((str(qid), int(li), lut, qn))
    qdf = df.sparkSession.createDataFrame(
        probe_rows,
        schema="query_id string, list_id int, lut array<array<double>>, qnorm double",
    )
    scored = corpus.join(F.broadcast(qdf), on="list_id").withColumn(
        "approx_cosine",
        F.round(
            F.aggregate(
                F.zip_with(F.col("lut"), F.col("codes"),
                           lambda lutrow, code: F.element_at(lutrow, code + 1)),
                F.lit(0.0), lambda a, x: a + x,
            )
            / F.when(F.col("vnorm") * F.col("qnorm") > 0,
                     F.col("vnorm") * F.col("qnorm")).otherwise(F.lit(1.0)),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cosine"), F.col(id_col))
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= max(k, rerank))
        .select("query_id", F.col(id_col), "approx_cosine", "rank")
    )
    if rerank <= 0:
        return shortlist.filter(F.col("rank") <= k)
    qv = df.sparkSession.createDataFrame(
        [(str(qid), [float(x) for x in v]) for qid, v in queries],
        schema="query_id string, qvec array<double>",
    )
    # broadcast the SHORTLIST (<= rerank x n_queries rows), never the
    # corpus: at sf-test sizes Spark's size estimate would otherwise
    # broadcast the raw-vector table — harmless here, catastrophic at
    # 10^12 rows (the explicit hint pins the at-scale plan: one scan
    # of the vector column filtered by the tiny broadcast relation)
    cand = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).join(F.broadcast(shortlist.drop("rank")), on=id_col).join(
        F.broadcast(qv), on="query_id"
    ).withColumn(
        "cosine", F.round(cosine_cols(F.col("__v"), F.col("qvec")), 6)
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col), "cosine", "rank")
    )
