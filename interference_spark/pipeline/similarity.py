"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB design demands:

* **brute force** — exact cosine top-k with a JVM-side dot product
  (``zip_with`` + ``aggregate``: stays in codegen, no Python). O(n·d) scan,
  embarrassingly parallel, then a tiny ``orderBy().limit(k)`` which Spark
  executes as per-partition top-k + merge (TakeOrderedAndProject — no full
  sort shuffle).
* **IVF** — deterministic coarse quantizer: k-means centroids (fixed
  lowest-id init + distributed Lloyd rounds, no RNG anywhere), assignment
  scored with floor-quantized integer sums in an Arrow-batched pandas UDF;
  search probes only the ``nprobe`` nearest partitions.  At scale the
  assignment is written partitioned-by-centroid so a query touches
  ~nprobe/k of the data.  Every score and mean is an integer sum turned
  into a double by one division, so the index hash-matches a SQL oracle.

An exact-decimal cosine top-k backs the DuckDB correctness oracle: float
sums are order-dependent, so the oracle path accumulates exact decimals
and only then converts to double — bit-identical across engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product: fold of zip_with — whole-stage codegen."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force top-k by cosine vs a constant query vector."""
    from . import lit_double_array

    q = lit_double_array(query_vec)
    out = df.select(
        F.col(id_col),
        cosine(F.col(vec_col), q).alias("cosine"),
    )
    return out.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def cosine_topk_df(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """`cosine_topk` with the query vector attached as a 1-row broadcast
    instead of driver-collected literals (r11): same IEEE op chain — the
    zip_with fold multiplies the identical widened doubles — but the
    eager `.first()` round trip (a whole blocking Spark job per call)
    disappears; the 1-row side rides along as a broadcast inside the one
    scoring job.

    PRECONDITION (ADVICE r11): ``query_df`` must hold EXACTLY ONE row.
    Unlike the old ``.first()`` path this is not checked eagerly (a
    check would be a blocking job — the very thing this variant
    removes): zero query rows yield an EMPTY result and >1 rows score
    every document against every query row (top-k of the mixture).
    Callers derive the frame from a unique-key filter (``vec_id == q``)
    where the contract holds by construction; anything less certain
    should assert ``query_df.count() == 1`` first or use
    ``cosine_topk`` with a driver-held vector."""
    q = F.broadcast(
        query_df.select(_as_double(F.col(vec_col)).alias("__q"))
    )
    out = df.crossJoin(q).select(
        F.col(id_col),
        cosine(F.col(vec_col), F.col("__q")).alias("cosine"),
    )
    return out.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def cosine_topk_exact_decimal(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Oracle-grade top-k: per-position double products are exact and
    deterministic; sums accumulate as decimal(38,14) (exact, order-free);
    the final cosine is a deterministic chain of double ops. Mirrors the
    DuckDB oracle SQL exactly."""
    qexp = query_df.select(
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "qv")
    )
    eexp = df.select(
        F.col(id_col), F.posexplode(_as_double(F.col(vec_col))).alias("pos", "v")
    )
    dec = "decimal(38,14)"
    joined = eexp.join(F.broadcast(qexp), "pos")
    dots = joined.groupBy(id_col).agg(
        F.sum((F.col("v") * F.col("qv")).cast(dec)).alias("dot_d"),
        F.sum((F.col("v") * F.col("v")).cast(dec)).alias("n_e"),
        F.sum((F.col("qv") * F.col("qv")).cast(dec)).alias("n_q"),
    )
    cos = F.col("dot_d").cast("double") / (
        F.sqrt(F.col("n_e").cast("double")) * F.sqrt(F.col("n_q").cast("double"))
    )
    return (
        dots.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization (the standard 4× memory/IO
    shrink before ANN serving): scale = 127/max|x|, q_i = floor(x·scale
    + 0.5) ∈ [-127, 127].  Entirely JVM expression tree (transform/
    aggregate — no UDF), zero shuffle; every arithmetic step is an exact
    double op chain, so a SQL oracle reproduces the quantized vectors bit
    for bit.  Returns (id, q int8-valued array<int>, scale double) —
    dot products over q recover cosine to ~1e-2 at d=64."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    absmax = F.array_max(F.transform(x, F.abs))
    scale = F.when(absmax == 0.0, F.lit(0.0)).otherwise(F.lit(127.0) / absmax)
    q = F.transform(x, lambda v: F.floor(v * scale + F.lit(0.5)).cast("int"))
    return df.select(
        F.col(id_col), q.alias("q"), scale.alias("scale")
    )


def quantized_cosine_topk(
    df: DataFrame,
    query_q: list[int],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Serving-path top-k over int8-quantized vectors: quantize the base
    set (:func:`quantize_int8`), integer dot products against the
    already-quantized query (exact BIGINT arithmetic — order-free), cosine
    from the integer dot and norms.  Same TakeOrderedAndProject shape as
    the float path but over 4× smaller vectors; scores are deterministic
    ints-then-one-division, so the ranking is engine-reproducible."""
    from . import lit_int_array

    qz = quantize_int8(df, vec_col, id_col)
    qlit = lit_int_array(query_q)
    dot = F.aggregate(
        F.zip_with(F.col("q"), qlit, lambda a, b: a.cast("long") * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    n2 = F.aggregate(
        F.transform(F.col("q"), lambda v: v.cast("long") * v),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    qn2 = float(sum(int(v) * int(v) for v in query_q))
    score = dot.cast("double") / (F.sqrt(n2.cast("double")) * F.sqrt(F.lit(qn2)))
    return (
        qz.select(F.col(id_col), score.alias("qcos"))
        .orderBy(F.desc("qcos"), F.asc(id_col))
        .limit(k)
    )


def _score_pairs_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Shared scoring tail of every bucketed-ANN variant: quantized-cosine
    the (query, candidate) pairs (columns query_id, cand_id, eq, ec) and
    keep each query's top-k (ties → lower cand_id). One place owns the
    quantization scale and tie-break, so the SQL oracles cannot drift
    between variants."""
    from pyspark.sql import Window

    from .dedup import quantized_cosine_sums, quantized_cosine_value

    zipped = F.zip_with(
        F.col("eq"), F.col("ec"),
        lambda x, y: F.named_struct(F.lit("x"), x, F.lit("y"), y),
    )
    expl = pairs.select("query_id", "cand_id", F.explode(zipped).alias("v"))
    sums = expl.groupBy("query_id", "cand_id").agg(
        *quantized_cosine_sums(F.col("v.x"), F.col("v.y"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        sums.withColumn("cosine", quantized_cosine_value())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cosine")
    )



def lsh_bucketed_topk(
    df: DataFrame,
    query_filter,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 6,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Bucketed ANN: top-k by cosine among vectors sharing each query's
    random-hyperplane bucket (the scale path next to brute-force cosine —
    candidates per query are bounded by bucket size, never O(n)).

    ``query_filter(col(id_col))`` splits queries from candidates. One
    shuffle on the sign-string bucket; scoring uses the quantized-BIGINT
    cosine (engine-reproducible); ranking is a window PARTITIONED BY query
    id — parallel across queries, no global sort.
    """
    from .dedup import hyperplane_buckets

    # persisted: the query and candidate branches otherwise re-project
    # the whole corpus through the hyperplane dots (no exchange reuse
    # across the two filters) — measured ~1.1 -> 0.78 s at sf0.1 (r11);
    # same contract as simhash_pairs' fingerprint cache (at 100 TB,
    # materialize fingerprints to a table instead — same idea).
    # Ledger-registered (r12): long-lived sessions release it with
    # pipeline.release_caches() once the returned plan is consumed.
    from . import register_cache

    b = register_cache(
        hyperplane_buckets(df, vec_col, id_col, planes, seed, dim)
    )
    qs = b.filter(query_filter(F.col(id_col))).select(
        F.col(id_col).alias("query_id"), F.col("__e").alias("eq"), "bucket"
    )
    cs = b.filter(~query_filter(F.col(id_col))).select(
        F.col(id_col).alias("cand_id"), F.col("__e").alias("ec"), "bucket"
    )
    return _score_pairs_topk(qs.join(cs, "bucket"), k)


def lsh_multiprobe_topk(
    df: DataFrame,
    query_filter,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 6,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Multi-probe bucketed ANN: each query probes its own hyperplane
    bucket PLUS every bucket at Hamming distance 1 (one sign bit flipped)
    — the classic multi-probe LSH recall boost (near-boundary neighbors
    land one sign flip away) without building more hash tables.

    Cost shape: the candidate side is untouched (one bucket per vector);
    only the (small) query side fans out ×(planes+1), so the bucket join
    stays one shuffle and candidates-per-query stays bounded by bucket
    sizes. Probe buckets are distinct strings, so no (query, candidate)
    pair is scored twice. Scoring/ranking identical to
    :func:`lsh_bucketed_topk` (quantized cosine, per-query window).
    """
    from .dedup import hyperplane_buckets

    # persisted for the same two-branch reason as lsh_bucketed_topk
    # (r11); ledger-registered for pipeline.release_caches() (r12)
    from . import register_cache

    b = register_cache(
        hyperplane_buckets(df, vec_col, id_col, planes, seed, dim)
    )
    flips = [F.col("bucket")]
    for i in range(planes):
        bit = F.substring("bucket", i + 1, 1)
        flips.append(
            F.concat(
                F.substring("bucket", 1, i),
                F.when(bit == "1", F.lit("0")).otherwise(F.lit("1")),
                F.substring("bucket", i + 2, planes - i - 1),
            )
        )
    qs = (
        b.filter(query_filter(F.col(id_col)))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("__e").alias("eq"),
            F.explode(F.array(*flips)).alias("bucket"),
        )
    )
    cs = b.filter(~query_filter(F.col(id_col))).select(
        F.col(id_col).alias("cand_id"), F.col("__e").alias("ec"), "bucket"
    )
    return _score_pairs_topk(qs.join(cs, "bucket"), k)


def hard_negatives(
    df: DataFrame,
    query_filter,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    planes: int = 6,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/metric training: for each
    query vector, the top-k most-similar candidates with a DIFFERENT
    label — the "looks alike, isn't" pairs that carry the gradient signal.

    Same bucketed shape as :func:`lsh_bucketed_topk` (candidates bounded
    by bucket size, never O(n)); the label-mismatch test rides the bucket
    join as a join-time filter, so same-label pairs are dropped before any
    scoring work."""
    from .dedup import hyperplane_buckets

    labels = df.select(F.col(id_col), F.col(label_col).alias("__lbl"))
    # persisted for the same two-branch reason as lsh_bucketed_topk
    # (r11); ledger-registered for pipeline.release_caches() (r12)
    from . import register_cache

    b = register_cache(
        hyperplane_buckets(df, vec_col, id_col, planes, seed, dim).join(
            labels, id_col
        )
    )
    qs = b.filter(query_filter(F.col(id_col))).select(
        F.col(id_col).alias("query_id"),
        F.col("__e").alias("eq"),
        F.col("__lbl").alias("lq"),
        "bucket",
    )
    cs = b.filter(~query_filter(F.col(id_col))).select(
        F.col(id_col).alias("cand_id"),
        F.col("__e").alias("ec"),
        F.col("__lbl").alias("lc"),
        "bucket",
    )
    return _score_pairs_topk(
        qs.join(cs, "bucket").filter(F.col("lq") != F.col("lc")), k
    )


# ------------------------------------------------ IVF (exact math, oracled)
_QI = 1e10  # fixed-point scale for IVF scores/means


def _argmax_centroid_exact(vec: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """Nearest centroid with EXACT cross-engine arithmetic: score =
    (Σ_j floor(x_j·c_j·1e10)) / sqrt(Σ_j floor(c_j²·1e10)) — integer
    numerators, one double division+sqrt from identical ints, so any
    engine computes the identical score and the identical argmax
    (ties → higher centroid id)."""
    order = sorted(cents, key=lambda cv: -cv[0])
    ids = np.array([cid for cid, _ in order], dtype=np.int64)
    c = np.stack([np.asarray(v, dtype=np.float64) for _, v in order])
    qn = np.floor(c * c * _QI).astype(np.int64).sum(axis=1)
    denom = np.sqrt(qn.astype(np.float64))
    denom[denom == 0] = 1.0

    @F.pandas_udf(T.LongType())
    def assign(vecs: pd.Series) -> pd.Series:
        out = np.empty(len(vecs), dtype=np.int64)
        chunk = 1024
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs]) if len(vecs) else np.zeros((0, c.shape[1]))
        for s in range(0, len(vecs), chunk):
            xb = X[s : s + chunk]
            qd = np.floor(xb[:, None, :] * c[None, :, :] * _QI).astype(np.int64).sum(axis=2)
            scores = qd.astype(np.float64) / denom[None, :]
            out[s : s + len(xb)] = ids[np.argmax(scores, axis=1)]
        return pd.Series(out)

    return assign(vec)


def ivf_train_exact(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Deterministic distributed k-means (Lloyd iterations): init = the
    n lowest-id vectors (no RNG), then ``iters`` rounds of
    assign-and-average as DataFrame ops — the per-round shuffle is
    (centroid, dim_pos) partial sums, only the n_centroids × dim means
    reach the driver; empty clusters keep their previous centroid.  Both
    the assignment scores and the means are sums of floor-quantized
    longs (a float ``avg`` would differ at the last ulp across
    partitionings), so the trained centroids are bit-identical on any
    partitioning AND recomputable by a SQL oracle."""
    cents = [
        (int(r[id_col]), [float(x) for x in r[vec_col]])
        for r in df.orderBy(id_col).limit(n_centroids).collect()
    ]
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    for _ in range(iters):
        assigned = df.select(
            _argmax_centroid_exact(F.col(vec_col), cents).alias("centroid"),
            F.posexplode(vec_d).alias("pos", "x"),
        )
        means = (
            assigned.groupBy("centroid", "pos")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.floor(F.col("x") * _QI).cast("long")).alias("qs"),
            )
            .collect()
        )
        by_c: dict[int, dict[int, float]] = {}
        for r in means:
            by_c.setdefault(r["centroid"], {})[r["pos"]] = r["qs"] / r["n"] / _QI
        cents = [
            (
                cid,
                [by_c[cid][p] for p in sorted(by_c[cid])]
                if cid in by_c
                else old,
            )
            for cid, old in cents
        ]
    return cents


def probe_centroids_exact(
    cents: list[tuple[int, list[float]]], query_vec: list[float], nprobe: int
) -> list[int]:
    """Probe ranking with the same exact quantized score as assignment
    (ties → lower centroid id)."""
    qa = np.asarray(query_vec, dtype=np.float64)
    scored = []
    for cid, cvec in cents:
        ca = np.asarray(cvec, dtype=np.float64)
        qd = int(np.floor(qa * ca * _QI).astype(np.int64).sum())
        qn = int(np.floor(ca * ca * _QI).astype(np.int64).sum())
        denom = np.sqrt(float(qn)) or 1.0
        scored.append((-(qd / denom), cid))
    scored.sort()
    return [cid for _, cid in scored[:nprobe]]


def _quantized_topk_single(
    cand: DataFrame,
    query_vec: list[float],
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Quantized-cosine top-k of candidates against ONE query vector
    (ties → lower id) — the shared scoring tail of the exact-math IVF
    variants, so the in-memory and stored probe paths cannot drift from
    each other or their SQL oracle."""
    from . import lit_double_array
    from .dedup import quantized_cosine_sums, quantized_cosine_value

    q = lit_double_array(query_vec)
    zipped = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        q,
        lambda x, y: F.named_struct(F.lit("x"), x, F.lit("y"), y),
    )
    expl = cand.select(id_col, F.explode(zipped).alias("v"))
    sums = expl.groupBy(id_col).agg(
        *quantized_cosine_sums(F.col("v.x"), F.col("v.y"))
    )
    return (
        sums.withColumn("cosine", quantized_cosine_value())
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
        .select(id_col, "cosine")
    )


def ivf_search_exact(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """End-to-end exact-math IVF probe: deterministic quantized k-means,
    quantized assignment, quantized probe ranking, quantized-cosine top-k
    — every number recomputable by a SQL oracle."""
    assigned, cents = ivf_build_exact(df, n_centroids, vec_col, id_col)
    probe_ids = probe_centroids_exact(cents, query_vec, nprobe)
    cand = assigned.filter(F.col("centroid").isin(probe_ids))
    return _quantized_topk_single(cand, query_vec, k, vec_col, id_col)


def ivf_build_exact(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_iters: int = 2,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Deterministic IVF index: quantized k-means centroids
    (:func:`ivf_train_exact`) and each vector's nearest centroid
    (:func:`_argmax_centroid_exact`).  Returns (assignments DF with a
    `centroid` column, centroid list).  The assignment — and therefore
    the partition layout `ivf_write` produces — is bit-identical on any
    partitioning and recomputable by a SQL oracle."""
    cents = ivf_train_exact(df, n_centroids, train_iters, vec_col, id_col)
    assigned = df.select(
        F.col(id_col),
        F.col(vec_col),
        _argmax_centroid_exact(F.col(vec_col), cents).alias("centroid"),
    )
    return assigned, cents


def ivf_write(assigned: DataFrame, path: str) -> None:
    """Persist the IVF assignment PARTITIONED BY centroid — the layout that
    makes probing read ~nprobe/n_centroids of the bytes instead of all of
    them: ``centroid IN (...)`` becomes a partition filter (directory-level
    pruning, zero data files opened for unprobed centroids)."""
    assigned.write.mode("overwrite").partitionBy("centroid").parquet(path)


def ivf_search_stored_exact(
    spark,
    path: str,
    cents: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Pruned IVF probe over an ``ivf_write`` layout: the centroid IN-list
    is a partition filter (directory-level pruning — only the nprobe
    probed directories are listed and read, which caps probe cost at
    100 TB), and every produced number matches :func:`ivf_search_exact`
    on the same data, so the stored path shares the same SQL oracle."""
    probe_ids = probe_centroids_exact(cents, query_vec, nprobe)
    cand = spark.read.parquet(path).filter(F.col("centroid").isin(probe_ids))
    return _quantized_topk_single(cand, query_vec, k, vec_col, id_col)


def semantic_dedup(
    df: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.9,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space, then compare pairs ONLY within a cluster — the
    cluster id is the shuffle key that turns an O(n²) all-pairs problem
    into bounded per-cluster work.  Returns one row per duplicate pair
    ``(centroid, keep_id, drop_id, cosine)`` with cosine ≥ ``threshold``;
    ``drop_id`` is the member sitting CLOSER to its centroid (higher
    quantized centroid-cosine; ties → the higher id), i.e. the redundant
    interior point — keeping the outlier preserves diversity, which is the
    paper's pruning rule.

    Exactness: clustering is the oracle-grade quantized k-means
    (:func:`ivf_train_exact` — floor-quantized BIGINT sums, lowest-id
    init, no RNG), centroid scores and pair cosines are floor-quantized
    integer sums turned into doubles by one division — every number is
    engine-reproducible, so the whole operator hash-matches a SQL oracle.

    100 TB shape: one broadcast join against k×d centroids (driver holds
    only the centroid matrix), one shuffle on the cluster id for the
    self-join, per-pair cosines as JVM ``zip_with``/``aggregate`` folds
    (whole-stage codegen, no Python in the pair loop).  Grow ``n_clusters``
    ~√n so per-cluster candidate counts stay bounded; the reference has no
    embedding operators at all (SURVEY §2.8 — scalar functions only), this
    is driver-mandate surface."""
    spark = df.sparkSession
    cents = ivf_train_exact(df, n_clusters, iters, vec_col, id_col)
    assigned = df.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("__e"),
        _argmax_centroid_exact(F.col(vec_col), cents).alias("centroid"),
    )
    crows = []
    for cid, cvec in cents:
        ca = np.asarray(cvec, dtype=np.float64)
        qn = int(np.floor(ca * ca * _QI).astype(np.int64).sum())
        # same zero-denominator guard as _argmax_centroid_exact (denom==0
        # -> 1.0): a degenerate all-zero centroid must score identically
        # in assignment and cscore, and never produce NULL/inf
        denom = float(np.sqrt(qn)) if qn > 0 else 1.0
        crows.append((cid, [float(x) for x in cvec], denom))
    cdf = spark.createDataFrame(
        crows, "cid long, cvec array<double>, cdenom double"
    )

    def _qfold(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)

    cscore = (
        _qfold(
            F.zip_with(F.col("__e"), F.col("cvec"), lambda x, c: F.floor(x * c * F.lit(_QI)))
        ).cast("double")
        / F.col("cdenom")
    )
    scored = (
        assigned.join(F.broadcast(cdf), F.col("centroid") == F.col("cid"))
        .select(id_col, "centroid", "__e", cscore.alias("cscore"))
    )
    a = scored.select(
        "centroid",
        F.col(id_col).alias("id_a"), F.col("__e").alias("ea"),
        F.col("cscore").alias("sa"),
    )
    b = scored.select(
        "centroid",
        F.col(id_col).alias("id_b"), F.col("__e").alias("eb"),
        F.col("cscore").alias("sb"),
    )
    q = F.lit(1e14)
    dot_d = _qfold(F.zip_with("ea", "eb", lambda x, y: F.floor(x * y * q)))
    na = _qfold(F.transform("ea", lambda x: F.floor(x * x * q)))
    nb = _qfold(F.transform("eb", lambda x: F.floor(x * x * q)))
    cos = dot_d.cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double")))
    pairs = (
        a.join(b, "centroid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("centroid", "id_a", "id_b", "sa", "sb", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    drop_a = F.col("sa") > F.col("sb")
    return pairs.select(
        "centroid",
        F.when(drop_a, F.col("id_b")).otherwise(F.col("id_a")).alias("keep_id"),
        F.when(drop_a, F.col("id_a")).otherwise(F.col("id_b")).alias("drop_id"),
        "cosine",
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Eval-set decontamination by EMBEDDING similarity — the semantic
    sibling of the n-gram `decontaminate` pass: for every corpus vector,
    the max quantized cosine against the (small) eval/benchmark set;
    ``contaminated`` when it reaches ``threshold``.  Catches paraphrased
    benchmark leakage that exact n-gram overlap misses.

    Returns one row per corpus vector: ``(id, max_eval_cos,
    contaminated)``.  Every cosine is a floor-quantized int64 sum turned
    into a double by one division, and ``max`` is comparison-based (no
    float accumulation), so the decision table hash-matches a SQL oracle.

    Plan: the eval matrix is collected (bounded — eval sets are 10²-10⁴
    vectors) into an Arrow-batched pandas UDF that floor-quantizes the
    per-element products and sums them in int64 (order-free), emitting
    each row's max directly — corpus × |eval| numpy work, NO shuffle and
    no join at all.  A broadcast cross join with ``zip_with``/``aggregate``
    folds computes the same values but was measured 16× slower at sf0.1
    (SCALING.md): Spark's higher-order-function lambdas evaluate on the
    interpreted path, per element, while numpy does the same arithmetic
    in vectorized batches.

    For very large eval sets you'd bucket both sides with the
    hyperplane-LSH machinery instead (same verify arithmetic)."""
    rows = eval_df.select(_as_double(F.col(vec_col)).alias("e")).collect()
    emat = np.array([r["e"] for r in rows], dtype=np.float64)  # (k, d)
    if len(emat) == 0:
        return corpus.select(
            F.col(id_col),
            F.lit(0.0).alias("max_eval_cos"),
            F.lit(False).alias("contaminated"),
        )
    nb = np.floor(emat * emat * 1e14).astype(np.int64).sum(axis=1)
    sqrt_nb = np.sqrt(nb.astype(np.float64))  # (k,)
    # zero-norm guard (round-4 advice): an all-zero vector's quantized
    # norm is 0 → 0/0 = NaN, and Spark's NaN-is-greatest ordering
    # would call the row contaminated; same denom==0 → 1.0 convention
    # as semantic_dedup / _argmax_centroid_exact (cosine becomes 0)
    sqrt_nb[sqrt_nb == 0.0] = 1.0

    @F.pandas_udf(T.DoubleType())
    def max_cos(vecs: pd.Series) -> pd.Series:
        out = np.empty(len(vecs), dtype=np.float64)
        if len(vecs) == 0:
            return pd.Series(out)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        na = np.floor(X * X * 1e14).astype(np.int64).sum(axis=1)
        sqrt_na = np.sqrt(na.astype(np.float64))
        sqrt_na[sqrt_na == 0.0] = 1.0  # same zero-norm guard
        chunk = 1024  # bound the (rows, k, d) product block
        for s in range(0, len(X), chunk):
            xb = X[s : s + chunk]
            dots = (
                np.floor(xb[:, None, :] * emat[None, :, :] * 1e14)
                .astype(np.int64)
                .sum(axis=2)
            )  # (rows, k) — same ints as the oracle
            cos = dots.astype(np.float64) / (
                sqrt_na[s : s + chunk, None] * sqrt_nb[None, :]
            )
            out[s : s + len(xb)] = cos.max(axis=1)
        return pd.Series(out)

    cvec = _as_double(F.col(vec_col))
    return corpus.select(
        F.col(id_col),
        max_cos(cvec).alias("max_eval_cos"),
    ).select(
        id_col,
        "max_eval_cos",
        (F.col("max_eval_cos") >= F.lit(threshold)).alias("contaminated"),
    )
