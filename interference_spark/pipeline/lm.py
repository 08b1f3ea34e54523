"""Distributed n-gram language modeling for corpus quality filtering.

The CCNet/RefinedWeb-style pipeline stage: train a smoothed bigram LM on a
trusted slice of the corpus, score every candidate document's negative
log-likelihood under it, and keep the documents below a perplexity
threshold.  The classic implementation is a single-node KenLM binary; here
both training and scoring are plain keyed DataFrame aggregations/joins, so
the same code runs at 100 TB:

* training is two ``groupBy`` counts over the exploded bigram stream
  (combiner-friendly — bigram counts shrink massively map-side) plus a
  one-row vocabulary count;
* scoring is two keyed LEFT joins (candidate bigrams × LM tables).  The
  bigram-count join is keyed on (context, word) and the context-count join
  on context alone; the context key is Zipf-skewed at scale, which is
  exactly what AQE skew-join splitting is for (enabled in the session
  builder).  Neither join needs a broadcast to be correct, but a small LM
  (the common case — the trusted slice is curated) broadcasts automatically
  under the 10 MB threshold.

Float-determinism contract (see inventory module docstring): per-bigram
log-probabilities are *quantized to integer micronats* —
``floor(ln(p) * 1e6)`` as BIGINT — which makes every downstream aggregate
exact integer arithmetic, independent of partitioning and summation order.
The quantization is part of the operator's specification, not an
implementation detail: two engines computing the same spec agree bit for
bit (the only cross-engine surface is ``ln`` itself, applied to
bit-identical doubles, then floored at a granularity that makes a
last-ulp disagreement land on an integer boundary with probability ~1e-9).

Smoothing spec (add-one / Laplace over a closed vocabulary + OOV bucket):

* ``V``  = distinct unigrams in the training slice + 1 (the OOV type);
* ``p(w | c) = (count(c, w) + 1) / (count(c·) + V)``  when context ``c``
  was seen starting at least one training bigram;
* ``p(w | c) = 1 / V``  when ``c`` is unseen (uniform fallback).

A document's score is the mean negative log-probability of its bigram
stream in nats per bigram (``exp`` of it is the perplexity; thresholding
in nats is equivalent and avoids a cross-engine ``exp``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MICRO = 1000000.0  # micronat quantization, part of the spec


def _bigrams(df: DataFrame, text_col: str, extra_cols: list[str]) -> DataFrame:
    """Explode each document into its (context, word) bigram stream.

    The position-indexed ``transform`` over a ``slice`` runs entirely in
    whole-stage codegen (no Python, no shuffle); documents with fewer than
    two whitespace tokens contribute nothing.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    pairs = F.expr(
        "transform(slice(__t, 1, size(__t) - 1),"
        " (x, i) -> struct(x AS c, __t[i + 1] AS w))"
    )
    return (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .withColumn("__t", toks)
        .filter(F.size("__t") >= 2)
        .select(*extra_cols, F.explode(pairs).alias("__p"))
        .select(*extra_cols, F.col("__p.c").alias("c"), F.col("__p.w").alias("w"))
    )


@dataclass
class BigramLM:
    """A trained bigram LM as three DataFrames (no driver-side state, so
    the model itself scales with the cluster: a 100 TB training slice
    yields LM tables that stay distributed end to end)."""

    bigram_counts: DataFrame  # (c, w, cw)
    context_counts: DataFrame  # (c, cc)
    vocab: DataFrame  # 1 row: (v) = distinct unigrams + 1


def train_bigram_lm(df: DataFrame, text_col: str = "text") -> BigramLM:
    """Count-based add-one bigram LM over the whitespace token stream.

    Degenerate corpora stay well-defined (everything is lazy, so no
    eager emptiness check burns a job): an EMPTY training slice yields
    V = 1 (just the OOV type) and every context unseen, so each bigram
    scores p = 1/V = 1 and every document gets nll 0 (kept) — the
    uniform model over an OOV-only vocabulary, locked by test."""
    big = _bigrams(df, text_col, [])
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    vocab = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.explode(toks).alias("tok"))
        .agg((F.count_distinct("tok") + F.lit(1)).cast("long").alias("v"))
    )
    return BigramLM(
        bigram_counts=big.groupBy("c", "w").agg(F.count(F.lit(1)).alias("cw")),
        context_counts=big.groupBy("c").agg(F.count(F.lit(1)).alias("cc")),
        vocab=vocab,
    )


def perplexity_score(
    df: DataFrame,
    lm: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document LM score: (id, n_bigrams, nll_micronats, nll_nats).

    ``nll_micronats`` is the exact integer sum of quantized per-bigram
    negative log-probs; ``nll_nats`` = nll_micronats / (1e6 · n_bigrams)
    is the mean nats-per-bigram (monotone in perplexity).  Documents with
    fewer than two tokens produce no bigrams and are absent from the
    output — a filter stage treats absence as "not scorable".
    """
    sb = _bigrams(df, text_col, [id_col])
    j = (
        sb.join(lm.bigram_counts, ["c", "w"], "left")
        .join(lm.context_counts, ["c"], "left")
        .crossJoin(F.broadcast(lm.vocab))
    )
    p = F.when(
        F.col("cc").isNull(),
        F.lit(1.0) / F.col("v").cast("double"),
    ).otherwise(
        (F.coalesce(F.col("cw"), F.lit(0)) + F.lit(1)).cast("double")
        / (F.col("cc") + F.col("v")).cast("double")
    )
    logq = F.floor(F.log(p) * F.lit(_MICRO)).cast("long")
    per_doc = (
        j.select(F.col(id_col), logq.alias("logq"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum("logq")).cast("long").alias("nll_micronats"),
        )
    )
    nll = F.col("nll_micronats").cast("double") / (
        F.lit(_MICRO) * F.col("n_bigrams").cast("double")
    )
    return per_doc.withColumn("nll_nats", nll)


def _trigrams(df: DataFrame, text_col: str, extra_cols: list[str]) -> DataFrame:
    """Explode each document into its (c2, c1, w) trigram stream — the
    3-token sibling of ``_bigrams``, same whole-stage-codegen transform;
    documents with fewer than three tokens contribute nothing."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    trips = F.expr(
        "transform(slice(__t, 1, size(__t) - 2),"
        " (x, i) -> struct(x AS c2, __t[i + 1] AS c1, __t[i + 2] AS w))"
    )
    return (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .withColumn("__t", toks)
        .filter(F.size("__t") >= 3)
        .select(*extra_cols, F.explode(trips).alias("__p"))
        .select(
            *extra_cols,
            F.col("__p.c2").alias("c2"),
            F.col("__p.c1").alias("c1"),
            F.col("__p.w").alias("w"),
        )
    )


@dataclass
class BackoffLM:
    """A trained stupid-backoff trigram LM (Brants et al. 2007, "Large
    Language Models in Machine Translation" — the KenLM-style scoring
    model CCNet-class pipelines actually use, in its count-based
    no-discounting form).  Four DataFrames, no driver-side state."""

    trigram_counts: DataFrame  # (c2, c1, w, ct)
    bigram_counts: DataFrame  # (c, w, cb)
    unigram_counts: DataFrame  # (w, cu)
    totals: DataFrame  # 1 row: (n_tokens, v = distinct unigrams + 1)


def train_backoff_lm(df: DataFrame, text_col: str = "text") -> BackoffLM:
    """Count tables for stupid backoff: raw trigram/bigram/unigram
    counts over the whitespace token stream plus the 1-row totals.
    Three map-side-combined groupBys + one 1-row aggregate — nothing
    corpus-sized ever lands on one node."""
    tri = _trigrams(df, text_col, [])
    big = _bigrams(df, text_col, [])
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    stream = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.explode(toks).alias("w")
    )
    return BackoffLM(
        trigram_counts=tri.groupBy("c2", "c1", "w").agg(
            F.count(F.lit(1)).alias("ct")
        ),
        bigram_counts=big.groupBy("c", "w").agg(F.count(F.lit(1)).alias("cb")),
        unigram_counts=stream.groupBy("w").agg(F.count(F.lit(1)).alias("cu")),
        totals=stream.agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (F.count_distinct("w") + F.lit(1)).cast("long").alias("v"),
        ),
    )


def backoff_score(
    df: DataFrame,
    lm: BackoffLM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document stupid-backoff trigram score: ``(id, n_trigrams,
    n_tri_hits, n_big_hits, n_uni_hits, n_oov, nll_micronats,
    nll_nats)``.

    Score per position (α = 0.4, Brants et al.'s recommended constant):

    - trigram seen:            S = ct(c2,c1,w) / cb(c2,c1)
    - else bigram seen:        S = 0.4 · (cb(c1,w) / cu(c1))
    - else unigram seen:       S = 0.4 · (0.4 · (cu(w) / N))
    - else (OOV, spec floor):  S = 0.4 · (0.4 · (1 / (N + V)))

    Every count is an exact BIGINT; each S is a fixed-shape IEEE
    expression (the 0.4 factors multiply innermost-first in BOTH
    engines), and per-position log-scores quantize to integer micronats
    before the per-doc sum — partitioning cannot perturb the value.
    Shape: one trigram explode, five keyed LEFT joins against the LM
    count tables (Zipf-skewed context keys — AQE skew-join territory;
    the tables broadcast when the trusted slice is small), one doc-keyed
    combine.  The per-position backoff-level flags aggregate into the
    per-doc hit counts — the coverage diagnostic that tells a pipeline
    whether its trusted slice is big enough for the trigram head to
    carry the score.  Documents with fewer than three tokens are absent
    (not scorable), matching ``perplexity_score``'s contract.

    Join strategy is deliberately LEFT TO Catalyst/AQE: curated trusted
    slices broadcast their count tables; a web-scale trusted slice gets
    sort-merge joins, whose sorts SPILL — the 10M-doc probe (SCALING.md
    round-8 table) measured the tempting alternative, hinting the three
    corpus-growing lookups ``shuffle_hash``, and it HARD-FAILS there
    (``SparkOutOfMemoryError: not enough memory to build hash map`` —
    a shuffled-hash build side cannot spill), while default SMJ scores
    10M docs in ~516 s on the ~n·log n band.  Count-based stupid
    backoff at corpus×corpus scale is a sort problem by nature; do not
    re-add the hint."""
    st = _trigrams(df, text_col, [id_col])
    b_ctx = lm.bigram_counts.select(
        F.col("c").alias("c2"),
        F.col("w").alias("c1"),
        F.col("cb").alias("cb_ctx"),
    )
    b_low = lm.bigram_counts.select(
        F.col("c").alias("c1"), "w", "cb"
    )
    u_ctx = lm.unigram_counts.select(
        F.col("w").alias("c1"), F.col("cu").alias("cu_ctx")
    )
    j = (
        st.join(lm.trigram_counts, ["c2", "c1", "w"], "left")
        .join(b_ctx, ["c2", "c1"], "left")
        .join(b_low, ["c1", "w"], "left")
        .join(u_ctx, ["c1"], "left")
        .join(lm.unigram_counts, ["w"], "left")
        .crossJoin(F.broadcast(lm.totals))
    )
    a = F.lit(0.4)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p = (
        F.when(F.col("ct").isNotNull(), d("ct") / d("cb_ctx"))
        .when(F.col("cb").isNotNull(), a * (d("cb") / d("cu_ctx")))
        .when(F.col("cu").isNotNull(), a * (a * (d("cu") / d("n_tokens"))))
        .otherwise(
            a * (a * (F.lit(1.0) / (F.col("n_tokens") + F.col("v")).cast("double")))
        )
    )
    level = (
        F.when(F.col("ct").isNotNull(), F.lit("tri"))
        .when(F.col("cb").isNotNull(), F.lit("big"))
        .when(F.col("cu").isNotNull(), F.lit("uni"))
        .otherwise(F.lit("oov"))
    )
    logq = F.floor(F.log(p) * F.lit(_MICRO)).cast("long")
    per_doc = (
        j.select(F.col(id_col), logq.alias("logq"), level.alias("lvl"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum((F.col("lvl") == "tri").cast("long")).alias("n_tri_hits"),
            F.sum((F.col("lvl") == "big").cast("long")).alias("n_big_hits"),
            F.sum((F.col("lvl") == "uni").cast("long")).alias("n_uni_hits"),
            F.sum((F.col("lvl") == "oov").cast("long")).alias("n_oov"),
            (-F.sum("logq")).cast("long").alias("nll_micronats"),
        )
    )
    nll = F.col("nll_micronats").cast("double") / (
        F.lit(_MICRO) * F.col("n_trigrams").cast("double")
    )
    return per_doc.withColumn("nll_nats", nll)


@dataclass
class KneserNeyLM:
    """A trained interpolated Kneser-Ney trigram LM (Kneser & Ney 1995;
    Chen & Goodman 1999 — the smoothing the classic 5-gram KenLM models
    in CCNet-class pipelines use; single fixed discount D = 0.75).
    Six narrow count tables, no driver-side state — every count is an
    exact BIGINT derived from trigram/bigram TYPE and token counts."""

    trigram_counts: DataFrame  # (c2, c1, w, ct)
    ctx2: DataFrame  # (c2, c1, cb_ctx = Σct, n1p_ctx2 = |{w: ct>0}|)
    cont_big: DataFrame  # (c1, w, nbw = N1+(· c1 w))
    mid: DataFrame  # (c1, n1p_mid = N1+(· c1 ·), n1p_fol = N1+(c1 ·))
    cont_uni: DataFrame  # (w, n1p_w = N1+(· w))
    totals: DataFrame  # 1 row: (nbt = N1+(· ·) bigram types, v)


def train_kn_lm(df: DataFrame, text_col: str = "text") -> KneserNeyLM:
    """Count tables for interpolated Kneser-Ney: the trigram type table
    feeds the context normalizers and the bigram-level CONTINUATION
    counts (how many distinct left contexts a bigram completes), the
    bigram type table feeds the unigram continuation distribution.
    Four map-side-combined groupBys over the trigram/bigram type tables
    (each vocabulary-sized, not corpus-sized) + one 1-row aggregate."""
    tri = _trigrams(df, text_col, []).groupBy("c2", "c1", "w").agg(
        F.count(F.lit(1)).alias("ct")
    )
    big = _bigrams(df, text_col, []).groupBy("c", "w").agg(
        F.count(F.lit(1)).alias("cb")
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    stream = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.explode(toks).alias("w")
    )
    cont_big = tri.groupBy("c1", "w").agg(F.count(F.lit(1)).alias("nbw"))
    fol = big.groupBy(F.col("c").alias("c1")).agg(
        F.count(F.lit(1)).alias("n1p_fol")
    )
    return KneserNeyLM(
        trigram_counts=tri,
        ctx2=tri.groupBy("c2", "c1").agg(
            F.sum("ct").alias("cb_ctx"),
            F.count(F.lit(1)).alias("n1p_ctx2"),
        ),
        cont_big=cont_big,
        # inner join is exact: every c1 with trigram middles also heads
        # at least one bigram type
        mid=cont_big.groupBy("c1")
        .agg(F.sum("nbw").alias("n1p_mid"))
        .join(fol, "c1"),
        cont_uni=big.groupBy("w").agg(F.count(F.lit(1)).alias("n1p_w")),
        totals=big.agg(F.count(F.lit(1)).cast("long").alias("nbt")).crossJoin(
            stream.agg(
                (F.count_distinct("w") + F.lit(1)).cast("long").alias("v")
            )
        ),
    )


def kn_score(
    df: DataFrame,
    lm: KneserNeyLM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document interpolated Kneser-Ney trigram score — same output
    shape and join discipline as ``backoff_score``: ``(id, n_trigrams,
    n_tri_hits, n_big_hits, n_uni_hits, n_oov, nll_micronats,
    nll_nats)``.

    Probability per position (D = 0.75, the classic single discount):

    - ``P(w)    = N1+(·w)/N1+(··)``; OOV floor ``1/(N1+(··)+V)``
    - ``P(w|c1) = max(N1+(·c1w)−D,0)/N1+(·c1·)
      + D·N1+(c1·)/N1+(·c1·) · P(w)`` — unseen middle context backs
      off to ``P(w)`` entirely
    - ``P(w|c2,c1) = max(ct−D,0)/c(c2,c1)
      + D·N1+(c2c1·)/c(c2,c1) · P(w|c1)`` — unseen context backs off

    Counts are exact BIGINTs; each branch is a fixed-shape IEEE
    expression replayed verbatim in the oracle, and per-position log
    scores quantize to integer micronats before the per-doc sum.  The
    level flags count the highest n-gram order that HIT (trigram seen /
    bigram continuation seen / unigram continuation seen / OOV) — the
    same coverage diagnostic as ``backoff_score``.  Shape: one trigram
    explode + six keyed LEFT joins against vocabulary-sized count
    tables (broadcast for curated trusted slices, AQE skew-join on
    Zipf-skewed context keys at corpus×corpus scale — the
    ``backoff_score`` join-strategy note applies verbatim) + one
    doc-keyed combine.  No window, no sort, no driver state."""
    st = _trigrams(df, text_col, [id_col])
    j = (
        st.join(lm.trigram_counts, ["c2", "c1", "w"], "left")
        .join(lm.ctx2, ["c2", "c1"], "left")
        .join(lm.cont_big, ["c1", "w"], "left")
        .join(lm.mid, ["c1"], "left")
        .join(lm.cont_uni, ["w"], "left")
        .crossJoin(F.broadcast(lm.totals))
    )
    D = F.lit(0.75)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dz = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("double")  # noqa: E731
    p_uni = F.when(
        F.col("n1p_w").isNotNull(), d("n1p_w") / d("nbt")
    ).otherwise(F.lit(1.0) / (F.col("nbt") + F.col("v")).cast("double"))
    p_bi = F.when(
        F.col("n1p_mid").isNotNull(),
        F.greatest(dz("nbw") - D, F.lit(0.0)) / d("n1p_mid")
        + (D * d("n1p_fol") / d("n1p_mid")) * p_uni,
    ).otherwise(p_uni)
    p_tri = F.when(
        F.col("cb_ctx").isNotNull(),
        F.greatest(dz("ct") - D, F.lit(0.0)) / d("cb_ctx")
        + (D * d("n1p_ctx2") / d("cb_ctx")) * p_bi,
    ).otherwise(p_bi)
    level = (
        F.when(F.col("ct").isNotNull(), F.lit("tri"))
        .when(F.col("nbw").isNotNull(), F.lit("big"))
        .when(F.col("n1p_w").isNotNull(), F.lit("uni"))
        .otherwise(F.lit("oov"))
    )
    logq = F.floor(F.log(p_tri) * F.lit(_MICRO)).cast("long")
    per_doc = (
        j.select(F.col(id_col), logq.alias("logq"), level.alias("lvl"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum((F.col("lvl") == "tri").cast("long")).alias("n_tri_hits"),
            F.sum((F.col("lvl") == "big").cast("long")).alias("n_big_hits"),
            F.sum((F.col("lvl") == "uni").cast("long")).alias("n_uni_hits"),
            F.sum((F.col("lvl") == "oov").cast("long")).alias("n_oov"),
            (-F.sum("logq")).cast("long").alias("nll_micronats"),
        )
    )
    nll = F.col("nll_micronats").cast("double") / (
        F.lit(_MICRO) * F.col("n_trigrams").cast("double")
    )
    return per_doc.withColumn("nll_nats", nll)


def perplexity_buckets(
    df: DataFrame,
    lm: BigramLM,
    by: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020,
    "CCNet: Extracting high quality monolingual datasets from web crawl
    data" — public knowledge): score every document against the trusted
    LM and split each ``by``-group (language, in CCNet) into perplexity
    TERCILES — ``head`` (lowest mean NLL, most Wikipedia-like),
    ``middle``, ``tail``.  Downstream pipelines keep head+middle or
    sample tail at a reduced rate.

    Returns ``(id, by, n_bigrams, nll_micronats, nll_nats, bucket)``.
    Bucketing is ``ntile(3)`` over (``by``, mean NLL, id) — the NLL is
    derived from exact integer micronats, ties break on the id, and
    Spark and DuckDB share ntile's remainder rule (first groups get the
    extra row), so the assignment is engine-exact.  Shape: the scoring
    joins of ``perplexity_score`` plus ONE per-group sort (the ntile
    window) — groups are languages, so the sort is embarrassingly
    parallel across them; at corpus scales where an exact per-language
    sort is unwanted, the mergeable-histogram quantile sketch
    (`pipeline/sketch.py`) yields approximate tercile CUTOFFS in one
    pass instead."""
    from pyspark.sql import Window

    scored = perplexity_score(df, lm, text_col=text_col, id_col=id_col)
    keyed = scored.join(df.select(id_col, by), id_col)
    w = Window.partitionBy(by).orderBy("nll_nats", id_col)
    t = F.ntile(3).over(w)
    bucket = (
        F.when(t == 1, F.lit("head"))
        .when(t == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return keyed.select(
        id_col, by, "n_bigrams", "nll_micronats", "nll_nats", bucket.alias("bucket")
    )


def perplexity_bucket_cutoffs(
    df: DataFrame,
    lm: BigramLM,
    by: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    lo: float = 2.0,
    hi: float = 6.0,
    bins: int = 256,
) -> DataFrame:
    """``perplexity_buckets`` without the per-language sort — the
    documented dominant-language escape hatch, shipped as an operator
    (VERDICT r8 ask #3).  Tercile CUTOFFS come from the mergeable
    fixed-width histogram sketch (``sketch.hist_group_quantiles`` at
    q = 1/3, 2/3 over the ``[lo, hi)`` NLL domain — dyadic bin width,
    so the interpolation is engine-exact), then every document gets its
    bucket by a stateless comparison against the broadcast per-language
    cutoffs.  Same output shape as ``perplexity_buckets``; boundary
    semantics differ by spec — ``nll ≤ cutoff`` (sketch boundary)
    instead of ntile's exact rank split, the standard accuracy trade.

    Scale shape: the scoring joins + ONE map-side-combined groupBy
    whose shuffle carries at most ``languages × bins`` histogram rows —
    no per-language sort, so a 45%%-English 100 TB corpus no longer
    funnels one giant partition through an ntile window; the histogram
    partials merge additively wherever the data lives."""
    from .sketch import hist_group_quantiles

    scored = perplexity_score(df, lm, text_col=text_col, id_col=id_col)
    # Materialize the scored table ONCE (localCheckpoint): both consumers
    # below — the histogram sketch and the bucket projection — read the
    # same blocks, so the expensive scoring joins run exactly once.
    # Without this the plan scores the corpus twice and the sketch
    # variant LOSES to the ntile sort it exists to remove (measured at
    # a 90%-dominant 1M-doc mix: 36 s vs ntile's 22 s — SCALING.md
    # round-9).  The checkpointed table is narrow (id, group, three
    # numbers — ~50 bytes/doc), a small fraction of the corpus it
    # summarizes; blocks are freed by the ContextCleaner when the
    # result DataFrame is dropped — LAZILY, so in a long-lived session
    # repeated calls can accumulate executor-storage blocks between GC
    # cycles (ADVICE r9).
    keyed = scored.join(df.select(id_col, by), id_col).localCheckpoint(eager=True)
    q1, q2 = 1 / 3, 2 / 3
    cuts = hist_group_quantiles(
        keyed, (by,), "nll_nats", qs=(q1, q2), lo=lo, hi=hi, bins=bins
    ).select(
        by,
        F.col(f"q_{str(q1)[2:]}").alias("cut_head"),
        F.col(f"q_{str(q2)[2:]}").alias("cut_middle"),
    )
    bucket = (
        F.when(F.col("nll_nats") <= F.col("cut_head"), F.lit("head"))
        .when(F.col("nll_nats") <= F.col("cut_middle"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return keyed.join(F.broadcast(cuts), by).select(
        id_col,
        by,
        "n_bigrams",
        "nll_micronats",
        "nll_nats",
        bucket.alias("bucket"),
    )


def bigram_count_deltas(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One micro-batch's additive LM-count delta: (c, w, cw) over just
    this batch's documents.

    Bigram counts are an additive sketch — merging two count tables is a
    ``groupBy(c, w).sum`` — which makes streaming LM maintenance an
    append-only store of per-batch deltas (LSM-style): each micro-batch
    computes a map-side-combined count over its own rows (batch-sized
    work, no state store, no retraining) and appends; readers merge with
    one keyed aggregation, and a periodic compaction job rewrites the
    deltas into one table when they accumulate.  The same shape carries
    any additive statistic at 100 TB."""
    return (
        _bigrams(df, text_col, [])
        .groupBy("c", "w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )


def merge_bigram_counts(deltas: DataFrame) -> DataFrame:
    """Compact a delta store into current LM counts (one keyed sum)."""
    return deltas.groupBy("c", "w").agg(
        F.sum("cw").cast("long").alias("cnt")
    )


def backoff_count_deltas(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One micro-batch's additive delta for the FULL stupid-backoff
    count triple — trigram/bigram/unigram in ONE unified table
    ``(n, g1, g2, g3, cnt)``: n=3 rows carry (c2, c1, w), n=2 rows
    (c, w, NULL), n=1 rows (w, NULL, NULL).  `bigram_count_deltas`
    generalized to trigram order (VERDICT r8 ask #4): the model IS its
    count tables, and those are additive, so streaming maintenance is
    an append-only LSM-style delta store — each micro-batch computes
    three map-side-combined counts over its own rows (batch-sized work,
    no state store, no retraining), `merge_backoff_counts` is the
    compaction, and `backoff_lm_from_counts` reconstructs the scoring
    model — totals included — from the merged table alone."""
    tri = (
        _trigrams(df, text_col, [])
        .groupBy("c2", "c1", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.lit(3).alias("n"),
            F.col("c2").alias("g1"),
            F.col("c1").alias("g2"),
            F.col("w").alias("g3"),
            "cnt",
        )
    )
    big = (
        _bigrams(df, text_col, [])
        .groupBy("c", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.lit(2).alias("n"),
            F.col("c").alias("g1"),
            F.col("w").alias("g2"),
            F.lit(None).cast("string").alias("g3"),
            "cnt",
        )
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    uni = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.lit(1).alias("n"),
            F.col("w").alias("g1"),
            F.lit(None).cast("string").alias("g2"),
            F.lit(None).cast("string").alias("g3"),
            "cnt",
        )
    )
    return tri.unionByName(big).unionByName(uni)


def merge_backoff_counts(deltas: DataFrame) -> DataFrame:
    """Compact a backoff-delta store into current counts (one keyed
    sum over the unified (n, g1, g2, g3) key)."""
    return deltas.groupBy("n", "g1", "g2", "g3").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def backoff_lm_from_counts(counts: DataFrame) -> BackoffLM:
    """Reconstruct the scoring model from a merged unified count table —
    the reader side of streaming maintenance.  The totals derive from
    the unigram slice (N = Σ counts, V = distinct unigrams + 1), so the
    count table IS the complete model state; scoring a corpus against a
    merged store is bit-equal to scoring against a freshly trained
    `train_backoff_lm` (locked by test)."""
    tri = counts.filter(F.col("n") == 3).select(
        F.col("g1").alias("c2"),
        F.col("g2").alias("c1"),
        F.col("g3").alias("w"),
        F.col("cnt").alias("ct"),
    )
    big = counts.filter(F.col("n") == 2).select(
        F.col("g1").alias("c"),
        F.col("g2").alias("w"),
        F.col("cnt").alias("cb"),
    )
    uni = counts.filter(F.col("n") == 1).select(
        F.col("g1").alias("w"), F.col("cnt").alias("cu")
    )
    totals = uni.agg(
        F.sum("cu").cast("long").alias("n_tokens"),
        (F.count(F.lit(1)) + F.lit(1)).cast("long").alias("v"),
    )
    return BackoffLM(
        trigram_counts=tri,
        bigram_counts=big,
        unigram_counts=uni,
        totals=totals,
    )


def kn_lm_from_counts(counts: DataFrame) -> KneserNeyLM:
    """Reconstruct the interpolated Kneser-Ney model from the SAME
    merged unified count table the streaming backoff path maintains
    (``backoff_count_deltas`` → ``merge_backoff_counts``): every KN
    statistic — trigram/bigram types, continuation counts, context
    normalizers — is a TYPE count over the raw n-gram tables, and type
    counts of an additive count table are exactly recoverable after any
    sequence of delta merges (a key exists iff its summed count > 0).
    So one delta store serves both scoring models; building KN against
    a merged store is bit-equal to ``train_kn_lm`` on the full corpus
    (locked by test)."""
    tri = counts.filter(F.col("n") == 3).select(
        F.col("g1").alias("c2"),
        F.col("g2").alias("c1"),
        F.col("g3").alias("w"),
        F.col("cnt").alias("ct"),
    )
    big = counts.filter(F.col("n") == 2).select(
        F.col("g1").alias("c"),
        F.col("g2").alias("w"),
        F.col("cnt").alias("cb"),
    )
    uni = counts.filter(F.col("n") == 1).select(
        F.col("g1").alias("w"), F.col("cnt").alias("cu")
    )
    cont_big = tri.groupBy("c1", "w").agg(F.count(F.lit(1)).alias("nbw"))
    fol = big.groupBy(F.col("c").alias("c1")).agg(
        F.count(F.lit(1)).alias("n1p_fol")
    )
    return KneserNeyLM(
        trigram_counts=tri,
        ctx2=tri.groupBy("c2", "c1").agg(
            F.sum("ct").cast("long").alias("cb_ctx"),
            F.count(F.lit(1)).alias("n1p_ctx2"),
        ),
        cont_big=cont_big,
        mid=cont_big.groupBy("c1")
        .agg(F.sum("nbw").alias("n1p_mid"))
        .join(fol, "c1"),
        cont_uni=big.groupBy("w").agg(F.count(F.lit(1)).alias("n1p_w")),
        totals=big.agg(F.count(F.lit(1)).cast("long").alias("nbt")).crossJoin(
            uni.agg((F.count(F.lit(1)) + F.lit(1)).cast("long").alias("v"))
        ),
    )


def perplexity_filter(
    df: DataFrame,
    lm: BigramLM,
    threshold_nats: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score + keep flag: ``kept`` ⇔ mean NLL ≤ ``threshold_nats``
    (equivalently perplexity ≤ exp(threshold))."""
    scored = perplexity_score(df, lm, text_col=text_col, id_col=id_col)
    return scored.withColumn(
        "kept", F.col("nll_nats") <= F.lit(float(threshold_nats))
    )


_TWO_52 = 4503599627370496.0  # 2^52 — the kmv/cms deterministic-hash domain


def gumbel_topk_select(
    weights: DataFrame,
    k: int = 100,
    seed: str = "dsir",
    id_col: str = "doc_id",
) -> DataFrame:
    """Seeded Gumbel-top-k selection over DSIR log-weights — the SAMPLED
    selection variant (Xie et al. 2023 resample the weights rather than
    taking a deterministic top-n; Gumbel-top-k — Kool et al. 2019,
    "Stochastic Beams and Where to Find Them" — makes that a one-pass
    top-k: adding i.i.d. Gumbel noise to the logits and keeping the k
    largest IS sampling k items without replacement proportional to
    softmax(logits)).

    Replayable randomness, not engine randomness: ``u = (h + 0.5)/2^52``
    with ``h`` the deterministic 52-bit md5 hash of ``seed : id`` (the
    kmv/cms hash family — reproducible in any engine), ``g = −ln(−ln u)``
    the Gumbel sample, and the selection key the exact BIGINT
    ``logw_micronats + ⌊g·1e6⌋`` — the logits are already micronats, so
    the perturbed key stays integer and partitioning cannot perturb the
    order (the ln-at-micronat-granularity contract is the repo-wide
    one).  +0.5 keeps u strictly inside (0,1): both logs are finite.

    Returns the k selected rows with their ``key_micronats``; Spark
    executes orderBy+limit as TakeOrderedAndProject (per-partition top-k
    + driver merge of k·P rows — never a global sort), so the selection
    scales like the deterministic top-n."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"gmb:{seed}:"), F.col(id_col).cast("string")
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(_TWO_52)
    g = -F.log(-F.log(u))
    key = (
        F.col("logw_micronats") + F.floor(g * F.lit(_MICRO)).cast("long")
    ).alias("key_micronats")
    return (
        weights.select(F.col(id_col), "n_bigrams", "logw_micronats", key)
        .orderBy(F.desc("key_micronats"), F.col(id_col).asc())
        .limit(k)
    )


_DSIR_BROADCAST_MAX_ROWS = 10_000_000
# hashed-broadcast tier cutoff: an xxhash64-keyed lookup row is 8 B key +
# two count longs (~40 B as a LongHashedRelation incl. overhead), so 50M
# rows ≈ 2 GB — a relation that one task can actually BUILD from its
# execution-memory grant (the r10 probe measured a ~110M-row build
# failing with cannotAcquireMemoryToBuildLongHashedRelation on a 48 GB
# local JVM: the map needs its pow2 slot arrays as near-contiguous
# allocations, so feasible size is set by per-task execution memory, not
# the 8 GB broadcast cap).  Above the cutoff the hashed-key shuffle tier
# takes over
_DSIR_HASHED_BROADCAST_MAX_ROWS = 50_000_000


def dsir_log_weights(
    df: DataFrame,
    target_lm: BigramLM,
    raw_lm: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    ``log p_target(doc) − log p_raw(doc)`` under two bigram LMs — the
    standard importance-resampling signal for tilting a raw crawl toward
    a target domain.  Selection = top-n by weight (or Gumbel-top-k with
    the weights as logits; deterministic top-n here).

    One bigram explode, four keyed LEFT joins (two per LM — AQE splits
    the Zipf-skewed context key at scale), two 1-row vocab broadcasts —
    corpus-linear, nothing driver-sized.  Per-bigram log-probs quantize
    to integer micronats by spec (the same contract as
    ``perplexity_score``), so the document weight is an exact integer
    sum: partitioning and order can't perturb it, and the oracle replays
    it bit for bit.

    Returns (id, n_bigrams, logw_micronats); documents with <2 tokens
    have no bigrams and are absent (not scorable).
    """
    sb = _bigrams(df, text_col, [id_col])
    # Merge the two LMs into ONE lookup table per key shape (a vocab-sized
    # full-outer join): the corpus-sized bigram stream attaches its counts
    # through TWO joins instead of four.  With broadcasting the merged
    # lookups attach as explicit broadcasts, so the stream is never
    # shuffled OR sorted for the joins — measured at 10M synthetic docs
    # (400M bigrams): 4-plain-join 395 s, shuffle_hash-hinted 596 s (it
    # shuffles the stream), static-SMJ ~170-270 s (it SORTS the stream;
    # AQE left the sort-merge in place) — the broadcast plan is the only
    # one that keeps the stream a straight pipelined scan.  But a real
    # web corpus has 1e9+ bigram types: broadcasting that hard-fails on
    # Spark's 8 GB broadcast cap / executor memory instead of degrading,
    # so the operator COUNTS the merged bigram lookup (one
    # vocabulary-sized job — callers with materialized LM tables pay
    # ~nothing; here it re-runs the two combiner-friendly LM
    # aggregations once) and broadcasts only when it holds at most
    # ``_DSIR_BROADCAST_MAX_ROWS`` rows.  The 10M cutoff is ~0.6-1 GB as a
    # broadcast hash relation (two short tokens + two longs per row) —
    # comfortably inside the 8 GB cap and small next to the ≥8 GB
    # executors it rides in; above it the joins shuffle on (c[,w]) and
    # AQE's skew split handles the Zipf-skewed context head.  Both paths
    # read the same lookup tables, so the quantized-micronat weights are
    # bit-identical either way (locked by test + SCALING.md probe).
    bc = target_lm.bigram_counts.withColumnRenamed("cw", "cwt").join(
        raw_lm.bigram_counts.withColumnRenamed("cw", "cwr"),
        ["c", "w"],
        "full_outer",
    )
    cc = target_lm.context_counts.withColumnRenamed("cc", "cct").join(
        raw_lm.context_counts.withColumnRenamed("cc", "ccr"),
        ["c"],
        "full_outer",
    )
    # three physical tiers (bit-identical weights on all of them, locked
    # by test): exact-key broadcast / HASHED-key broadcast / hashed-key
    # shuffle.  The middle tier is the r10 10M-doc probe's forced fix:
    # between "exact strings fit the broadcast budget" and "nothing
    # fits" lies a wide band where the 8-byte-keyed lookup still
    # broadcasts comfortably (~40 B/row vs ~70+ B with string keys) —
    # and broadcasting there means the corpus-sized bigram stream is
    # NEVER shuffled or sorted for the joins, where the shuffle tier
    # sorts the stream twice (once per join key).  The r10 in-funnel
    # attempt measured the shuffle tier exhausting an 80 GB spill disk
    # at 10M docs / ~590M bigram instances — CUMULATIVE volume: the
    # scoring sorts coexisted with retained training shuffles in one
    # long-lived JVM.  In the production two-process shape (models
    # handed off via parquet, scoring in a fresh JVM) the same scoring
    # completes at that size: 807 s, 53 GB peak disk (SCALING.md
    # round-11 decade row).
    # the module constants are read at call time, so tests and probes
    # reach every tier by monkeypatching them
    n_lookup = bc.count()
    if n_lookup <= _DSIR_BROADCAST_MAX_ROWS:
        bc, cc = F.broadcast(bc), F.broadcast(cc)
        j = (
            sb.join(bc, ["c", "w"], "left")
            .join(cc, ["c"], "left")
        )
    elif n_lookup <= _DSIR_HASHED_BROADCAST_MAX_ROWS:
        bch = F.broadcast(
            bc.select(F.xxhash64("c", "w").alias("__hb"), "cwt", "cwr")
        )
        cch = F.broadcast(
            cc.select(F.xxhash64("c").alias("__hc"), "cct", "ccr")
        )
        sbh = sb.select(
            F.col(id_col),
            F.xxhash64("c", "w").alias("__hb"),
            F.xxhash64("c").alias("__hc"),
        )
        j = sbh.join(bch, "__hb", "left").join(cch, "__hc", "left")
    else:
        # HASH-NARROWED join keys on the shuffle path (the r10 10M-doc
        # funnel probe's forced fix): the stream-side SMJ sorts carry
        # (doc_id, c, w) string rows; hashing both join keys to one
        # xxhash64 long each shrinks the in-memory sort row to a
        # 32 B fixed-width UnsafeRow (~2× smaller than the string
        # shape) and makes the sort comparator a long compare.  What
        # the r11 A/B probe (--dsir-spill, alternating-order runs)
        # actually measured: at a size where BOTH plans complete with
        # zero spill, wall and COMPRESSED shuffle bytes are equal
        # within 0.4% — lz4 shrinks the low-entropy string keys to
        # ≈ the 8 incompressible hash bytes — so the win is not
        # shuffle I/O; it is whether the sorts fit execution memory
        # at the 10M-doc boundary, where the string plan exhausted an
        # 80 GB spill disk and this plan completed (807 s, 53 GB peak,
        # SCALING.md round-11).  Identical join semantics up to hash
        # collisions (expected ≈ k²/2⁶⁵ — ~0.03 at 1e9 bigram types;
        # the oracled entries all run gate corpora whose lookups
        # BROADCAST, so the exact-key path is the one the driver
        # value-hashes).  Both paths are asserted weight-equal in
        # tests at test scale and bit-equal by the probe's checksums.
        bch = bc.select(F.xxhash64("c", "w").alias("__hb"), "cwt", "cwr")
        cch = cc.select(F.xxhash64("c").alias("__hc"), "cct", "ccr")
        sbh = sb.select(
            F.col(id_col),
            F.xxhash64("c", "w").alias("__hb"),
            F.xxhash64("c").alias("__hc"),
        )
        # sort-merge, NOT shuffled-hash: the r10 probe tried
        # hint("shuffle_hash") here (the narrow build side looks
        # tempting) and it HARD-FAILED with
        # cannotAcquireMemoryToBuildLongHashedRelation under per-task
        # memory contention (a ~110M-row lookup over 32 concurrent
        # builds wants ~512 MB each and cannot spill) — the same
        # failure the backoff_score join-strategy note documents.  SMJ
        # sorts spill gracefully, and with 24 B hashed rows the sort
        # volume is 3-4× smaller than the string-keyed plan this tier
        # replaced.
        j = sbh.join(bch, "__hb", "left").join(cch, "__hc", "left")
    j = j.crossJoin(
        F.broadcast(target_lm.vocab.withColumnRenamed("v", "vt"))
    ).crossJoin(F.broadcast(raw_lm.vocab.withColumnRenamed("v", "vr")))

    def _logq(cw: str, cc: str, v: str):
        p = F.when(
            F.col(cc).isNull(),
            F.lit(1.0) / F.col(v).cast("double"),
        ).otherwise(
            (F.coalesce(F.col(cw), F.lit(0)) + F.lit(1)).cast("double")
            / (F.col(cc) + F.col(v)).cast("double")
        )
        return F.floor(F.log(p) * F.lit(_MICRO)).cast("long")

    lw = _logq("cwt", "cct", "vt") - _logq("cwr", "ccr", "vr")
    return (
        j.select(F.col(id_col), lw.alias("lw"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lw").cast("long").alias("logw_micronats"),
        )
    )
