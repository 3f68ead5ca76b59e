"""Embedding similarity search: brute-force cosine top-k + LSH buckets.

Task-brief training-data op. Two tiers:

- :func:`cosine_topk` — exact brute force: broadcast the (small) query
  set, JVM-side sequential-fold cosine (gipspark.functions.vectors),
  window top-k. The correctness baseline and the oracle-checked path.
- :func:`lsh_cosine_topk` — the scale path: random-hyperplane sign
  sketches (seeded, driver-side NumPy constants baked into the plan as
  literals) bucket both sides; candidates = bucket collisions across
  ``n_tables`` independent tables; exact cosine reranks. Recall < 1 by
  construction → verified against brute force by recall floor, not
  equality (tests/test_similarity.py).

At 10^12 scale the brute-force tier is per-query O(N) — usable for ad
hoc queries via broadcast; the LSH tier's bucket join shuffles only
collision candidates and its hyperplane count tunes the recall/cost
point.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gipspark.functions.vectors import cosine_sim


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "q_vec",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine; deterministic tie-break (sim desc, id asc)."""
    w = Window.partitionBy(q_id).orderBy(F.col("sim").desc(), F.col(c_id).asc())
    return (
        F.broadcast(queries.select(q_id, q_vec))
        .crossJoin(corpus.select(c_id, c_vec))
        .filter(F.col(q_id) != F.col(c_id))
        .withColumn("sim", cosine_sim(F.col(q_vec), F.col(c_vec)))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "sim", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, table: int, seed: int = 13) -> np.ndarray:
    rng = np.random.default_rng(seed * 1000 + table)
    return rng.standard_normal((n_planes, dim))


def _bucket_col(vec_col: str, planes: np.ndarray):
    """Sign-sketch bucket id: bit p = [vec · plane_p > 0]. The dot
    products run as JVM sequential folds over literal plane arrays —
    no Python, no shuffle."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(x)) for x in plane]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(2 ** p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def _kmeans_centroids(
    corpus: DataFrame,
    c_vec: str,
    n_centroids: int,
    c_id: str | None = None,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 17,
) -> np.ndarray:
    """Tiny driver-side k-means on a sample — the IVF coarse quantizer.

    The sample is bounded (collect of ≤``sample`` rows), so this stays
    O(sample·dim·iters) on the driver no matter the corpus size; the
    expensive assignment step below is distributed. When ``c_id`` is
    given the sample is the ``sample`` rows with the smallest
    xxhash64(id) — a deterministic reservoir that is invariant to
    partitioning/parallelism (bare ``limit`` is partition-order-
    dependent) and runs as TakeOrderedAndProject (per-partition top-k,
    no full sort)."""
    sel = corpus.select(c_vec) if c_id is None else (
        corpus.select(c_vec, F.xxhash64(F.col(c_id)).alias("__h"))
        .orderBy("__h")
        .select(c_vec)
    )
    rows = sel.limit(sample).collect()
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(len(C)):
            m = assign == j
            if m.any():
                v = X[m].mean(axis=0)
                C[j] = v / max(np.linalg.norm(v), 1e-12)
    return C


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "q_vec",
    c_vec: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse k-means quantizer (driver-side on a
    sample), corpus rows assigned to their nearest centroid via JVM
    fold dot products (one narrow pass, centroids baked as literals),
    queries probe their ``n_probe`` nearest lists, exact cosine reranks
    the union. Recall tunes with n_probe; shuffle volume is bounded by
    list occupancy — the scale path for 10^12-row corpora where bucket
    lists live partitioned on centroid id."""
    C = _kmeans_centroids(corpus, c_vec, n_centroids, c_id=c_id)

    def dots(vec_col: str):
        return [
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: a.cast("double") * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in C
        ]

    def top_idx(vec_col: str, n: int):
        scored = F.array(
            *[F.struct(d.alias("d"), F.lit(i).alias("i")) for i, d in enumerate(dots(vec_col))]
        )
        ordered = F.reverse(F.array_sort(scored))
        return F.slice(F.transform(ordered, lambda s: s["i"]), 1, n)

    c_assigned = corpus.select(
        c_id, c_vec, F.element_at(top_idx(c_vec, 1), 1).alias("__list")
    )
    q_assigned = queries.select(
        q_id, q_vec, F.explode(top_idx(q_vec, n_probe)).alias("__list")
    )
    w = Window.partitionBy(q_id).orderBy(F.col("sim").desc(), F.col(c_id).asc())
    return (
        q_assigned.join(c_assigned, on="__list")
        .filter(F.col(q_id) != F.col(c_id))
        .withColumn("sim", cosine_sim(F.col(q_vec), F.col(c_vec)))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "sim", "rank")
    )


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 8,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "q_vec",
    c_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: union of per-table bucket collisions, exact
    cosine rerank. Returns the same schema as cosine_topk."""
    q_b = queries.select(q_id, q_vec)
    c_b = corpus.select(c_id, c_vec)
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, t)
        q_b = q_b.withColumn(f"__b{t}", _bucket_col(q_vec, planes))
        c_b = c_b.withColumn(f"__b{t}", _bucket_col(c_vec, planes))
    q_long = q_b.select(
        q_id, q_vec, F.explode(F.array(*[F.struct(F.lit(t).alias("t"), F.col(f"__b{t}").alias("b")) for t in range(n_tables)])).alias("tb")
    ).select(q_id, q_vec, "tb.t", "tb.b")
    c_long = c_b.select(
        c_id, c_vec, F.explode(F.array(*[F.struct(F.lit(t).alias("t"), F.col(f"__b{t}").alias("b")) for t in range(n_tables)])).alias("tb")
    ).select(c_id, c_vec, "tb.t", "tb.b")
    cand = (
        q_long.join(c_long, on=["t", "b"])
        .filter(F.col(q_id) != F.col(c_id))
        .select(q_id, q_vec, c_id, c_vec)
        .distinct()
    )
    w = Window.partitionBy(q_id).orderBy(F.col("sim").desc(), F.col(c_id).asc())
    return (
        cand.withColumn("sim", cosine_sim(F.col(q_vec), F.col(c_vec)))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "sim", "rank")
    )


def _pq_codebooks(
    corpus: DataFrame,
    c_vec: str,
    c_id: str,
    n_subs: int,
    n_codes: int,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 29,
) -> np.ndarray:
    """Per-subspace k-means codebooks on a bounded, deterministic
    driver-side sample of L2-NORMALIZED vectors (the _kmeans_centroids
    reservoir discipline: smallest xxhash64(id) rows, invariant to
    partitioning). Returns (n_subs, n_codes, subdim)."""
    rows = (
        corpus.select(c_vec, F.xxhash64(F.col(c_id)).alias("__h"))
        .orderBy("__h")
        .select(c_vec)
        .limit(sample)
        .collect()
    )
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % n_subs:
        raise ValueError(f"dim {dim} not divisible into {n_subs} subspaces")
    sd = dim // n_subs
    rng = np.random.default_rng(seed)
    books = np.zeros((n_subs, n_codes, sd))
    for s in range(n_subs):
        Xs = X[:, s * sd : (s + 1) * sd]
        C = Xs[rng.choice(len(Xs), size=min(n_codes, len(Xs)), replace=False)]
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(len(C)):
                m = assign == j
                if m.any():
                    C[j] = Xs[m].mean(axis=0)
        books[s, : len(C)] = C
    return books


def pq_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_subs: int = 4,
    n_codes: int = 8,
    refine: int = 4,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "q_vec",
    c_vec: str = "embedding",
) -> DataFrame:
    """Product-quantization approximate top-k (Jégou, Douze & Schmid,
    TPAMI'11 — public algorithm): per-subspace codebooks compress every
    L2-normalized corpus vector to ``n_subs`` small codes; a query
    scores candidates by asymmetric distance computation (ADC) — its
    per-(subspace, code) dot-product lookup table is computed ONCE per
    query as an array column, so each pair costs ``n_subs`` lookups
    instead of a full-dim dot; the top ``refine``·k ADC candidates are
    reranked by EXACT cosine and the final k emitted with the same
    schema/tie-break as cosine_topk.

    Scale shape: the codebooks are a broadcast-sized constant (bounded
    driver-side sample, like IVF's coarse quantizer) shipped inside two
    Arrow-vectorized pandas UDF closures — encode and LUT each run ONE
    NumPy pass per Arrow batch (an n_subs·n_codes-wide unrolled
    expression tree was ~25× slower: Catalyst analysis cost plus
    interpreted higher-order functions per row); the ADC pair score
    stays JVM-side (n_subs lookups). The scan is per-query O(N) but at
    ~n_subs bytes of state per candidate — PQ is the COMPRESSION layer;
    for sublinear candidate generation compose with ivf_cosine_topk's
    lists (IVF-PQ), which this operator's encoded output joins against
    unchanged. Recall is contract-asserted (ann_recall_contract), not
    assumed."""
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType

    B = _pq_codebooks(corpus, c_vec, c_id, n_subs, n_codes)
    sd = B.shape[2]
    # per-(subspace, code) squared norms for the argmin identity
    # |x−c|² minimized == (x·c − |c|²/2) maximized
    c_half_sq = (B**2).sum(axis=2) / 2.0  # (n_subs, n_codes)

    @F.pandas_udf(ArrayType(IntegerType()))
    def pq_encode(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(X), n_subs), dtype=np.int32)
        for s in range(n_subs):
            scores = X[:, s * sd : (s + 1) * sd] @ B[s].T - c_half_sq[s]
            codes[:, s] = scores.argmax(axis=1)
        return pd.Series(list(codes))

    @F.pandas_udf(ArrayType(DoubleType()))
    def pq_lut(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        luts = np.empty((len(X), n_subs * n_codes))
        for s in range(n_subs):
            luts[:, s * n_codes : (s + 1) * n_codes] = (
                X[:, s * sd : (s + 1) * sd] @ B[s].T
            )
        return pd.Series(list(luts))

    enc = corpus.select(c_id, c_vec, pq_encode(F.col(c_vec)).alias("__codes"))
    q_l = queries.select(q_id, q_vec, pq_lut(F.col(q_vec)).alias("__lut"))

    adc = sum(
        (
            F.element_at(
                F.col("__lut"),
                F.lit(s * n_codes) + F.element_at("__codes", s + 1) + F.lit(1),
            )
            for s in range(n_subs)
        ),
        F.lit(0.0),
    )
    w_adc = Window.partitionBy(q_id).orderBy(F.col("__adc").desc(), F.col(c_id).asc())
    cand = (
        F.broadcast(q_l)
        .crossJoin(enc)
        .filter(F.col(q_id) != F.col(c_id))
        .withColumn("__adc", adc)
        .withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= refine * k)
    )
    w = Window.partitionBy(q_id).orderBy(F.col("sim").desc(), F.col(c_id).asc())
    return (
        cand.withColumn("sim", cosine_sim(F.col(q_vec), F.col(c_vec)))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "sim", "rank")
    )


def ivfpq_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 12,
    n_subs: int = 8,
    n_codes: int = 32,
    refine: int = 32,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "q_vec",
    c_vec: str = "embedding",
) -> DataFrame:
    """IVF-PQ composed approximate top-k — the actual 10^12-row shape
    (Jégou et al. TPAMI'11 §IV): the IVF coarse quantizer prunes the
    candidate set to the query's ``n_probe`` inverted lists
    (sublinear: shuffle volume = probed-list occupancy, never the
    corpus), and WITHIN those lists candidates are scored by the PQ
    ADC lookup (n_subs adds per pair over n_subs-byte codes instead of
    a full-dim dot) before the exact-cosine refine of the top
    ``refine``·k. Pure PQ scans everything cheaply; pure IVF scores
    survivors expensively; the composition is what FAISS ships as
    IVFPQ and is the configuration a 100 TB embedding table would run.
    Codebooks and centroids are bounded driver-side samples; encode and
    LUT are the same Arrow-vectorized kernels as pq_cosine_topk.
    Recall is gated by ann_recall_contract's floor alongside the other
    approximate families."""
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType

    C = _kmeans_centroids(corpus, c_vec, n_centroids, c_id=c_id)
    B = _pq_codebooks(corpus, c_vec, c_id, n_subs, n_codes)
    sd = B.shape[2]
    c_half_sq = (B**2).sum(axis=2) / 2.0

    @F.pandas_udf(ArrayType(IntegerType()))
    def ivf_lists_and_codes(vecs: pd.Series) -> pd.Series:
        """[nearest_list, code_0..code_{n_subs-1}] in one Arrow pass."""
        X = np.asarray(vecs.tolist(), dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(X), 1 + n_subs), dtype=np.int32)
        out[:, 0] = (X @ C.T).argmax(axis=1)
        for s in range(n_subs):
            out[:, 1 + s] = (
                X[:, s * sd : (s + 1) * sd] @ B[s].T - c_half_sq[s]
            ).argmax(axis=1)
        return pd.Series(list(out))

    @F.pandas_udf(ArrayType(IntegerType()))
    def q_probe_lists(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(X @ C.T), axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    @F.pandas_udf(ArrayType(DoubleType()))
    def q_lut(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype=np.float64)
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        luts = np.empty((len(X), n_subs * n_codes))
        for s in range(n_subs):
            luts[:, s * n_codes : (s + 1) * n_codes] = (
                X[:, s * sd : (s + 1) * sd] @ B[s].T
            )
        return pd.Series(list(luts))

    enc = corpus.select(
        c_id, c_vec, ivf_lists_and_codes(F.col(c_vec)).alias("__lc")
    ).select(
        c_id,
        c_vec,
        F.element_at("__lc", 1).alias("__list"),
        F.slice("__lc", 2, n_subs).alias("__codes"),
    )
    q_l = queries.select(
        q_id,
        q_vec,
        q_lut(F.col(q_vec)).alias("__lut"),
        F.explode(q_probe_lists(F.col(q_vec))).alias("__list"),
    )
    adc = sum(
        (
            F.element_at(
                F.col("__lut"),
                F.lit(s * n_codes) + F.element_at("__codes", s + 1) + F.lit(1),
            )
            for s in range(n_subs)
        ),
        F.lit(0.0),
    )
    w_adc = Window.partitionBy(q_id).orderBy(F.col("__adc").desc(), F.col(c_id).asc())
    cand = (
        q_l.join(enc, on="__list")
        .filter(F.col(q_id) != F.col(c_id))
        .withColumn("__adc", adc)
        .withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= refine * k)
    )
    w = Window.partitionBy(q_id).orderBy(F.col("sim").desc(), F.col(c_id).asc())
    return (
        cand.withColumn("sim", cosine_sim(F.col(q_vec), F.col(c_vec)))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "sim", "rank")
    )
