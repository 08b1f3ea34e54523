"""Distributed lexical retrieval scoring (Okapi BM25) over a document
corpus.

Training-data curation uses this shape for query-based corpus selection
("find documents relevant to these probe terms") and as the lexical side
of hybrid retrieval next to the embedding ANN operators in
``pipeline/similarity.py`` / ``pipeline/pq.py``.

Scale shape (r12): the query's term list is a small literal, so
per-document term frequencies are |query| ``size(filter(tokens, t))``
projections — NO token explode, NO (doc, term) shuffle, NO per-doc
regroup and no cached intermediate anywhere.  One 1-row global
aggregate carries n_docs, total token count and every per-term document
frequency (broadcast back), and scoring is a pure projection over the
matched documents.  The corpus crosses the engine exactly twice (stats
pass + scoring pass), both as narrow map-side scans; final ranking is
``orderBy().limit(k)`` → TakeOrderedAndProject (distributed partial
top-k, never a global sort).

Float-determinism contract (see the inventory module docstring): the only
transcendental, the idf's ``ln``, is quantized to integer micronats
(``floor(ln(·)·1e6)`` as BIGINT) as part of the spec; per-(doc, term)
scores are then deterministic products/quotients of bit-identical
doubles, each rounded half-even to an integer count of 1e-14 units
(the value of ``CAST(ts AS DECIMAL(38,14))``); the per-document sum over
query terms adds those integers, so partitioning and order can't perturb
it, and divides once by 1e14.

The idf uses the always-positive BM25+ style variant
``ln(1 + (N - df + 0.5) / (df + 0.5))`` — on web-scale corpora stopword
probe terms would otherwise go negative and *subtract* relevance.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MICRO = 1000000.0


def bm25_scores(
    df: DataFrame,
    query_terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document BM25 score for a bag-of-terms query.

    Returns (id, n_terms_matched, score) for every document containing at
    least one query term.  ``score`` sums the classic per-term
    ``idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`` with the
    determinism contract above.
    """
    from functools import reduce

    terms = sorted(set(query_terms))
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col), toks.alias("__t")
    )
    if not terms:
        return base.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("n_terms_matched"),
            F.lit(0.0).alias("score"),
        ).filter(F.lit(False))
    # r12 reshape (guide §2.3/§2.4): the query's term list is a SMALL
    # LITERAL, so per-document term frequencies are |query| size(filter())
    # projections — the corpus-wide token explode, the (doc, term, dl)
    # count shuffle, the per-doc score regroup AND the tf persist (the
    # r11 cache-leak ADVICE item) all disappear.  What remains is one
    # map-side projection per doc plus ONE 1-row global aggregate
    # carrying n_docs / sum_dl / every per-term document frequency
    # (broadcast back).  Scoring is then a pure projection: per-term
    # scores become integer 1e-14 units, their long sum is exact in
    # any order, and one division turns it back into a double.
    def tf_col(t: str):
        # closure, NOT a defaulted lambda parameter: a second lambda
        # param (even defaulted) flips F.filter into its
        # (element, index) form and the index shadows the term
        return F.size(F.filter("__t", lambda x: x == F.lit(t)))

    perdoc = base.select(
        F.col(id_col),
        F.size("__t").alias("dl"),
        *[tf_col(t).alias(f"__tf_{i}") for i, t in enumerate(terms)],
    )
    stats = perdoc.groupBy().agg(
        F.count_distinct(id_col).alias("n_docs"),
        F.sum(F.col("dl").cast("long")).alias("sum_dl"),
        *[
            F.count(F.when(F.col(f"__tf_{i}") > 0, F.lit(1))).alias(
                f"__dft_{i}"
            )
            for i in range(len(terms))
        ],
    )
    matched = perdoc.filter(
        reduce(
            lambda a, c: a | c,
            [F.col(f"__tf_{i}") > 0 for i in range(len(terms))],
        )
    )
    j = matched.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")

    def term_score(i: int):
        tf = F.col(f"__tf_{i}")
        dft = F.col(f"__dft_{i}")
        idf_q = F.floor(
            F.log(
                F.lit(1.0)
                + ((F.col("n_docs") - dft).cast("double") + F.lit(0.5))
                / (dft.cast("double") + F.lit(0.5))
            )
            * F.lit(_MICRO)
        ).cast("long")
        tfn = (tf.cast("double") * (F.lit(k1) + F.lit(1.0))) / (
            tf.cast("double")
            + F.lit(k1)
            * (
                F.lit(1.0)
                - F.lit(b)
                + F.lit(b) * (F.col("dl").cast("double") / avgdl)
            )
        )
        ts = (idf_q.cast("double") / F.lit(_MICRO)) * tfn
        # unmatched terms contribute nothing — exactly the rows the old
        # (doc, term) tf table never held.  Each score becomes an integer
        # count of 1e-14 units, rint(ts·1e14): that is the value DuckDB's
        # CAST(ts AS DECIMAL(38,14)) stores.  Spark's decimal cast rounds
        # the shortest decimal string HALF_UP instead, which differs from
        # it in the last digit on some inputs.
        return F.when(tf > 0, F.rint(ts * F.lit(1e14)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    n_matched = reduce(
        lambda a, c: a + c,
        [
            F.when(F.col(f"__tf_{i}") > 0, F.lit(1)).otherwise(F.lit(0))
            for i in range(len(terms))
        ],
    )
    score = reduce(
        lambda a, c: a + c, [term_score(i) for i in range(len(terms))]
    )
    return j.select(
        F.col(id_col),
        n_matched.cast("long").alias("n_terms_matched"),
        (score.cast("double") / F.lit(1e14)).alias("score"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    k: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents by BM25 score (ties broken by ascending id —
    deterministic output for the correctness gate)."""
    scored = bm25_scores(
        df, query_terms, text_col=text_col, id_col=id_col, k1=k1, b=b
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def rrf_fusion_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: Sequence[str],
    query_vec: Sequence[float] | None = None,
    k: int = 15,
    depth: int = 50,
    k_rrf: int = 60,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_df: DataFrame | None = None,
) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al., SIGIR
    2009): fuse a lexical BM25 ranking and a semantic cosine ranking of
    the same corpus with ``score(d) = Σ 1/(k_rrf + rank_list(d))``, the
    standard hybrid-retrieval combiner in RAG data curation.

    Scale shape: each list is produced by its own distributed scorer and
    cut to ``depth`` with ``orderBy().limit()`` (TakeOrderedAndProject —
    a distributed partial top-k, never a global sort); ranks are then
    assigned by a window over the *depth-sized* slice (driver-bounded by
    construction, so the single-partition window is O(depth), not O(corpus)),
    and the fusion is a full-outer join of two depth-row sets (AQE
    broadcasts one side).  Nothing corpus-sized crosses a single
    partition.

    Float determinism: BM25 scores are deterministic by ``bm25_scores``'s
    contract, cosine by the strict left fold in ``similarity.dot`` —
    ranks are therefore deterministic integers, and the fused score is a
    fixed-order sum of two exact divisions (1/(k_rrf+rank)), bit-identical
    across engines.

    Returns (doc_id, lex_rank, sem_rank, rrf_score) — ranks NULL for
    documents present in only one list — ordered by fused score.
    """
    from pyspark.sql import Window

    from .similarity import cosine

    lex_top = (
        bm25_scores(docs, query_terms, text_col=text_col, id_col=doc_id_col)
        .orderBy(F.col("score").desc(), F.col(doc_id_col).asc())
        .limit(depth)
    )
    wl = Window.orderBy(F.col("score").desc(), F.col(doc_id_col).asc())
    lex_r = lex_top.select(
        F.col(doc_id_col),
        F.row_number().over(wl).cast("long").alias("lex_rank"),
    )

    # r11: the semantic query vector may arrive as a 1-row DataFrame and
    # ride as a broadcast (no eager driver collect — one fewer blocking
    # job per call); the literal-array path stays for callers that hold
    # the vector in memory.  Same IEEE chain either way (zip_with fold).
    if (query_vec is None) == (query_vec_df is None):
        raise ValueError(
            "rrf_fusion_topk: pass exactly one of query_vec / query_vec_df"
        )
    if query_vec_df is not None:
        from .similarity import _as_double

        qdf = F.broadcast(
            query_vec_df.select(_as_double(F.col(vec_col)).alias("__q"))
        )
        sem_scored = emb.crossJoin(qdf).select(
            F.col(vec_id_col).alias(doc_id_col),
            cosine(F.col(vec_col), F.col("__q")).alias("cosine"),
        )
    else:
        from . import lit_double_array

        q = lit_double_array(query_vec)
        sem_scored = emb.select(
            F.col(vec_id_col).alias(doc_id_col),
            cosine(F.col(vec_col), q).alias("cosine"),
        )
    sem_top = sem_scored.orderBy(
        F.col("cosine").desc(), F.col(doc_id_col).asc()
    ).limit(depth)
    ws = Window.orderBy(F.col("cosine").desc(), F.col(doc_id_col).asc())
    sem_r = sem_top.select(
        F.col(doc_id_col),
        F.row_number().over(ws).cast("long").alias("sem_rank"),
    )

    contrib = lambda rank: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(k_rrf)) + F.col(rank).cast("double")),
        F.lit(0.0),
    )
    fused = lex_r.join(sem_r, doc_id_col, "full_outer").select(
        F.col(doc_id_col),
        F.col("lex_rank"),
        F.col("sem_rank"),
        (contrib("lex_rank") + contrib("sem_rank")).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col(doc_id_col).asc()).limit(k)
