"""Text-analysis operators for large-scale training-data pipelines.

These go beyond the reference's surface (it has no string functions at all —
SURVEY §2.8) and are designed JVM-side: every operator here is built from
``pyspark.sql.functions`` so it stays inside whole-stage codegen — no Python
in the hot path.  At 100 TB these are embarrassingly parallel scans: no
shuffle, predicate/column pruning reaches the parquet scan.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal per-language stopword marker sets for the n-gram/stopword-count
# language-ID heuristic. Deliberately tiny and fixed: the heuristic must be
# reproducible in ANSI SQL for the correctness oracle.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "ist", "nicht"),
    "en": ("the", "and", "is", "of", "to"),
    "es": ("el", "la", "que", "los", "una"),
    "fr": ("le", "la", "les", "est", "une"),
}


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over whitespace-normalized, lower-cased
    text. Stable across engines (md5 of UTF-8 bytes)."""
    norm = F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))
    return F.md5(norm)


_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_DIGIT = "0123456789"
_PUNCT = ".,!?;:"


def _class_count(t: Column, chars: str) -> Column:
    # chars removed via translate (single char-map pass, whole-stage
    # codegen) — ~an order of magnitude cheaper than a regexp_replace
    # rewrite of the full string
    return F.length(t) - F.length(F.translate(t, chars, ""))


# small English stopword core — enough for a quality signal; extend freely
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as",
)


def stopword_count(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    """Tokens (whitespace split) that are stopwords, case-insensitive.
    JVM-side array ops — no UDF."""
    stoplist = F.array(*[F.lit(w) for w in stopwords])
    toks = F.split(F.trim(text), r"\s+")
    return F.size(F.filter(toks, lambda x: F.array_contains(stoplist, F.lower(x))))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / character-class / ratio features used for corpus quality
    filtering. Pure column expressions — vectorized, no shuffle."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_alpha = _class_count(t, _ALPHA)
    n_digit = _class_count(t, _DIGIT)
    n_space = _class_count(t, " ")
    n_punct = _class_count(t, _PUNCT)
    n_tok = token_count(t)
    tok_denom = F.when(n_tok == 0, F.lit(1)).otherwise(n_tok).cast("double")
    denom = F.when(n_chars == 0, F.lit(1)).otherwise(n_chars).cast("double")
    return df.withColumns(
        {
            "n_chars_calc": n_chars,
            "n_tokens": token_count(t),
            "alpha_ratio": n_alpha.cast("double") / denom,
            "digit_ratio": n_digit.cast("double") / denom,
            "space_ratio": n_space.cast("double") / denom,
            "punct_ratio": n_punct.cast("double") / denom,
            "stopword_ratio": stopword_count(t).cast("double") / tok_denom,
        }
    )


def _marker_count(text: Column, word: str) -> Column:
    # \b word boundaries exist in both Java regex (Spark) and RE2 (DuckDB),
    # keeping the oracle SQL bit-identical.
    return F.regexp_count(F.lower(text), F.lit(rf"\b{word}\b"))


def lang_scores(text: Column) -> dict[str, Column]:
    return {
        lang: sum((_marker_count(text, w) for w in words), F.lit(0))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword-marker counts;
    ties break toward the lexicographically largest language code (so the
    rule is expressible as ``greatest(struct(score, lang)...)`` in ANSI SQL);
    all-zero scores → 'und'."""
    scores = lang_scores(F.col(text_col))
    pairs = [F.struct(s.alias("s"), F.lit(lang).alias("l")) for lang, s in scores.items()]
    best = F.greatest(*pairs)
    pred = F.when(best.getField("s") == 0, F.lit("und")).otherwise(best.getField("l"))
    out = df.withColumn("lang_pred", pred)
    for lang, s in scores.items():
        out = out.withColumn(f"score_{lang}", s)
    return out


def hash_sample(
    df: DataFrame, id_col: str, rate: float, salt: str = "s0"
) -> DataFrame:
    """Deterministic sampling: keep rows whose md5(salt ∥ id) falls in the
    lowest ``rate`` fraction of hash space. Unlike ``df.sample`` this is
    reproducible across runs, engines, partitionings, and retries — the
    property a training-data pipeline needs so a 1% corpus sample is THE
    SAME 1% everywhere. Different salts give independent samples."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 13),
        16,
        10,
    ).cast("long")
    return df.filter(h < F.lit(int(rate * 4503599627370496.0)))


def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def ngrams_from_tokens(t: Column, n: int) -> Column:
    """All n-grams of a token ARRAY as space-joined strings (empty array
    when fewer than n tokens — guarded explicitly because Spark's
    ``sequence(1, 0)`` counts DOWN, not empty). Pure array expressions —
    whole-stage codegen, no UDF.

    PERF: ``t`` must be a bound column (pre-projected), not an inline
    ``split(...)`` expression — expressions are NOT common-subexpression-
    eliminated inside higher-order-function lambdas, so an inline split
    re-tokenizes the document for every slice: O(words²) per row, measured
    9× slower at sf0.1."""
    return F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        )
    )


def word_ngrams(text: Column, n: int) -> Column:
    """Convenience wrapper over raw text; hot paths should project the
    token array once and call :func:`ngrams_from_tokens` (see PERF note)."""
    return ngrams_from_tokens(_tokens(text), n)


def repetition_features(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText-style
    quality rules): duplicate-word ratio, most-frequent-word ratio, and
    duplicate-bigram ratio.

    Shape at scale: ZERO shuffles — every signal is a per-row fold over the
    doc's own sorted token/bigram array (``array_sort`` + ``aggregate``
    counting run lengths: O(W log W) per doc, embarrassingly parallel,
    robust to any document-length mix). The previous two explode →
    (doc, token) → doc aggregate chains shuffled every token occurrence of
    the corpus twice and joined the results; per-doc signals never need to
    leave the row. All ratios are exact-integer counts divided once at the
    end (deterministic doubles, oracle-safe).
    """

    def run_stats(arr):
        """(n_distinct, max_run) of an array via one fold over its sorted
        form: equal values are adjacent, so run lengths ARE value counts."""
        acc0 = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
            F.lit(0).cast("long").alias("nd"),
        )

        def step(acc, w):
            same = acc["prev"].isNotNull() & (acc["prev"] == w)
            run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
            return F.struct(
                w.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
                F.when(same, acc["nd"]).otherwise(acc["nd"] + 1).alias("nd"),
            )

        return F.aggregate(F.array_sort(arr), acc0, step)

    base = df.select(id_col, _tokens(F.col(text_col)).alias("__t"))
    # the fold (per-element struct churn) only pays for itself where a
    # plain array op can't answer: max-run needs it; distinct counts are
    # 2-3× cheaper through array_distinct (measured at sf0.1)
    base = base.select(
        id_col,
        F.size("__t").alias("n_words"),
        F.size(F.array_distinct("__t")).alias("__wnd"),
        run_stats(F.col("__t")).alias("__ws"),
        F.size(ngrams_from_tokens(F.col("__t"), 2)).alias("n_bigrams"),
        F.size(F.array_distinct(ngrams_from_tokens(F.col("__t"), 2))).alias("__bnd"),
    )
    nw = F.col("n_words").cast("double")
    nb = F.when(F.col("n_bigrams") == 0, F.lit(1)).otherwise(
        F.col("n_bigrams")
    ).cast("double")
    return base.select(
        id_col,
        "n_words",
        ((nw - F.col("__wnd").cast("double")) / nw).alias("dup_word_ratio"),
        (F.col("__ws.best").cast("double") / nw).alias("top_word_ratio"),
        (
            (F.col("n_bigrams").cast("double") - F.col("__bnd").cast("double"))
            / nb
        ).alias("dup_bigram_ratio"),
    )


def contaminated_doc_ids(
    df: DataFrame, eval_df: DataFrame, id_col: str = "doc_id",
    text_col: str = "text", n: int = 8,
) -> DataFrame:
    """Test-set decontamination: ids of candidate documents sharing any word
    n-gram with the held-out ``eval_df`` (the n-gram-overlap rule used to
    scrub benchmarks from training corpora).

    Shape at scale: the eval side is small by construction — its distinct
    n-grams broadcast, so the corpus-side grams flow map-only into a
    broadcast left-semi join and only matching doc_ids reach the final
    distinct. The 100 TB side never shuffles its text.
    """
    grams = lambda d: d.select(  # noqa: E731
        id_col, _tokens(F.col(text_col)).alias("__t")
    ).select(id_col, F.explode(ngrams_from_tokens(F.col("__t"), n)).alias("g"))
    eval_grams = grams(eval_df).select("g").distinct()
    return (
        grams(df)
        .join(F.broadcast(eval_grams), "g", "left_semi")
        .select(id_col)
        .distinct()
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Token-windowed document chunking (RAG / context-window prep): one
    row per chunk ``(id, chunk_idx, n_tokens, chunk)``, windows of
    ``chunk_tokens`` tokens advancing by ``chunk_tokens − overlap`` so
    consecutive chunks share ``overlap`` tokens. The final window keeps its
    tail even when short; a doc shorter than one window yields one chunk.

    Pure JVM array expressions (project token array once → sequence of
    starts → slice + join) — zero UDFs, zero shuffles, embarrassingly
    parallel whatever the document-length mix.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    t = df.select(id_col, _tokens(F.col(text_col)).alias("__t"))
    # last start: smallest multiple of step whose window reaches the end —
    # NOT the largest multiple below n, which would emit a tail chunk fully
    # contained in its predecessor
    n = F.size("__t")
    last = F.when(n <= chunk_tokens, F.lit(0)).otherwise(
        F.ceil((n - chunk_tokens).cast("double") / step).cast("int") * step
    )
    starts = F.sequence(F.lit(0), last, F.lit(step))
    chunks = t.select(
        id_col,
        F.posexplode(
            F.transform(
                starts, lambda s: F.slice(F.col("__t"), s + 1, chunk_tokens)
            )
        ).alias("chunk_idx", "__c"),
    )
    return chunks.select(
        id_col,
        "chunk_idx",
        F.size("__c").alias("n_tokens"),
        F.array_join("__c", " ").alias("chunk"),
    )


def group_divergence(
    df: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-group corpus drift: chi-square divergence between each group's
    token distribution and the REST of the corpus — the mixture-QA table
    behind "did this source/language slice shift under the corpus" checks.

    χ²(slice ‖ rest) = Σ_tokens (p_a − p_b)² / (p_a + p_b), built from
    exact integer counts. Chi-square over KL/JS deliberately: it uses only
    IEEE-exact ops (+ − × ÷), so with the engine's micro-quantized long
    summation the statistic is bit-identical in any engine — log2's last
    ULP is implementation-defined and would break oracle parity.

    Shape at scale: token counts are ONE combiner-friendly shuffle on
    (group, token); per-token corpus totals derive from those counts (a
    second small shuffle on token, carrying counts, never occurrences);
    the final per-group sum is quantized-long (order-free).
    """
    toks = df.select(
        F.col(group_col).alias("g"), _tokens(F.col(text_col)).alias("__t")
    ).select("g", F.explode("__t").alias("w"))
    # gc feeds four consumers (per-token totals, per-group totals, the
    # grand total, the term join) — persist the AGGREGATED rows so the
    # corpus is tokenized exactly once, and derive n_all from the tiny
    # per-group sums instead of a second full scan
    gc = toks.groupBy("g", "w").agg(F.count("*").alias("ca")).persist()
    tot = gc.groupBy("w").agg(F.sum("ca").alias("ct"))
    n_g_rows = gc.groupBy("g").agg(F.sum("ca").alias("na")).collect()
    n_all = sum(r["na"] for r in n_g_rows)
    gtype = df.schema[group_col].dataType.simpleString()
    n_g = df.sparkSession.createDataFrame(
        [(r["g"], r["na"]) for r in n_g_rows], f"g {gtype}, na long"
    )
    j = gc.join(tot, "w").join(F.broadcast(n_g), "g")
    pa = F.col("ca").cast("double") / F.col("na").cast("double")
    pb = (F.col("ct") - F.col("ca")).cast("double") / (
        F.lit(n_all) - F.col("na")
    ).cast("double")
    term = (pa - pb) * (pa - pb) / (pa + pb)
    # tokens absent from the slice still contribute (0−p_b)²/p_b = p_b;
    # their per-group sum is p_b-mass of tokens the slice never uses =
    # (Σ_present-in-rest-only ct−ca)/nb — fold it in without materializing
    # the absent pairs: total rest mass is 1, minus rest-mass of tokens the
    # slice DOES use
    present_rest_mass = F.sum(
        F.floor(pb * 1000000000000.0).cast("long")
    )
    q_term = F.sum(F.floor(term * 1000000000000.0).cast("long"))
    out = j.groupBy("g").agg(
        q_term.alias("__qt"), present_rest_mass.alias("__qm"),
        F.count("*").alias("slice_vocab"),
    )
    chi2 = (
        F.col("__qt").cast("double")
        + (F.lit(1000000000000.0) - F.col("__qm").cast("double"))
    ) / 1000000000000.0
    return out.select(
        F.col("g").alias(group_col),
        F.col("slice_vocab").cast("long").alias("slice_vocab"),
        chi2.alias("chi2"),
    )


def _bloom_probe(g: Column, seed: str, m_bits: int) -> tuple[Column, Column]:
    """(word index, 32-bit mask) of one bloom probe for gram ``g``:
    md5-52-bit hash (engine-reproducible, same family as the KMV/CMS
    sketches) mod ``m_bits``, packed 32 bits per BIGINT word so masks stay
    positive in every engine's signed 64-bit integer."""
    h = (
        F.conv(F.substring(F.md5(F.concat(F.lit(seed), g)), 1, 13), 16, 10).cast(
            "long"
        )
        % m_bits
    )
    word = F.shiftright(h, 5)
    # shiftleft() takes only a literal shift count — build 1<<(h%32) as an
    # exact double power (2^b is exact for b ≤ 31)
    mask = F.pow(F.lit(2.0), (h % 32).cast("double")).cast("long")
    return word, mask


def ngram_novelty(
    df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus: the
    fraction of a document's DISTINCT word ``n``-grams that never occur
    in ``ref_df`` — high novelty flags genuinely new content, near-zero
    novelty flags paraphrases/boilerplate of what the model has already
    seen (the memorization-risk signal next to the decontamination ops).

    Returns (id, n_grams, n_novel, novelty) with ``novelty`` an exact
    int/int double division.  Documents with fewer than ``n`` tokens have
    no grams and are absent.

    Scale shape: the reference side is one combiner-friendly distinct
    over exploded grams; the membership check is a gram-keyed LEFT join
    (broadcast when the reference fits, shuffle hash beyond — and when
    the reference is web-scale, :func:`bloom_contaminated_ids` is the
    constant-size-broadcast variant of the same question).  The per-doc
    reduction is a counting aggregate with map-side combine."""
    ref_grams = (
        ref_df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(_tokens(F.col(text_col)).alias("__t"))
        .select(F.explode(ngrams_from_tokens(F.col("__t"), n)).alias("g"))
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    cand = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), _tokens(F.col(text_col)).alias("__t"))
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(ngrams_from_tokens(F.col("__t"), n))).alias("g"),
        )
    )
    novel = F.sum(
        F.when(F.col("__seen").isNull(), F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    return (
        cand.join(ref_grams, "g", "left")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_grams"), novel.alias("n_novel"))
        .withColumn(
            "novelty",
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer-Wilkerson-Aiken, the
    MOSS algorithm): hash every character ``k``-gram, slide a window of
    ``w`` consecutive hashes, keep each window's minimum — guaranteeing
    any shared substring of length ≥ ``k + w − 1`` yields at least one
    SHARED fingerprint between two documents, with only ~2/(w+1) of all
    positions retained.  The substring-granular near-dup candidate
    generator between whole-doc hashing and O(pattern) substring scan.

    Returns per eligible document (length ≥ k+w−1):
    ``(id, n_fps, n_partners)`` — distinct fingerprints kept, and how
    many other documents share at least one.

    Scale shape: hashing + window minima are per-row HOFs in codegen
    (zero shuffle, the md5-derived ``hash52`` family — engine-portable);
    the partner count is one fingerprint-keyed posting join whose lists
    winnowing itself keeps short (hot boilerplate fingerprints → salt or
    df-cap, same playbook as the gram joins)."""
    from .export import hash52

    txt = F.col(text_col)
    n_h = F.length(txt) - F.lit(k - 1)
    hs = F.transform(
        F.sequence(F.lit(1), n_h),
        lambda i: hash52("win:", F.substring(txt, i, k)),
    )
    base = df.filter(F.length(txt) >= k + w - 1).select(
        F.col(id_col), hs.alias("__h")
    )
    fps = base.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("__h") - w),
                lambda j: F.array_min(F.slice("__h", j + 1, w)),
            )
        ).alias("__f"),
    )
    e = fps.select(F.col(id_col), F.explode("__f").alias("fp"))
    a = e.select(F.col(id_col).alias("id_a"), "fp")
    b = e.select(F.col(id_col).alias("id_b"), "fp")
    partners = (
        a.join(b, "fp")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a")
        .agg(F.count_distinct("id_b").alias("n_partners"))
    )
    return fps.join(partners, fps[id_col] == partners["id_a"], "left").select(
        F.col(id_col),
        F.size("__f").cast("long").alias("n_fps"),
        F.coalesce("n_partners", F.lit(0)).cast("long").alias("n_partners"),
    )


def bloom_build(
    eval_df: DataFrame, text_col: str = "text", n: int = 8,
    m_bits: int = 1 << 18, k: int = 2,
) -> DataFrame:
    """Bloom filter over the eval set's distinct word n-grams as a
    ``(word, bits)`` DataFrame — at most ``m_bits/32`` rows (8192 for the
    default 2^18 bits) REGARDLESS of how many grams went in. bit_or is an
    additive aggregate, so the build is map-side-combined like any sketch."""
    t = eval_df.select(_tokens(F.col(text_col)).alias("__t"))
    grams = t.select(F.explode(ngrams_from_tokens(F.col("__t"), n)).alias("g")).distinct()
    probes = []
    for i in range(k):
        w, m = _bloom_probe(F.col("g"), f"bl{i}:", m_bits)
        probes.append(F.struct(w.alias("word"), m.alias("mask")))
    return (
        grams.select(F.explode(F.array(*probes)).alias("p"))
        .select("p.word", "p.mask")
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_contaminated_ids(
    df: DataFrame, eval_df: DataFrame, id_col: str = "doc_id",
    text_col: str = "text", n: int = 8, m_bits: int = 1 << 18, k: int = 2,
) -> DataFrame:
    """Decontamination via a constant-size broadcast bloom filter: candidate
    ids whose text shares (probably) any word n-gram with the eval set.

    vs :func:`contaminated_doc_ids` (exact semi-join): the broadcast there
    is the eval set's distinct gram STRINGS — fine when the benchmark suite
    is small, unboundedly large when it isn't. Here the broadcast is a
    fixed 2^18-bit bitmap (32 KB) whatever the eval set's size, and the
    corpus side stays map-only: each gram checks its k bits against the
    broadcast bloom rows, no gram string ever shuffles. False positives
    (over-scrubbing) are the classic bloom trade — deterministic md5
    probes, so the DuckDB oracle reproduces the exact same id set."""
    bloom = bloom_build(eval_df, text_col, n, m_bits, k)
    cand = df.select(
        id_col, _tokens(F.col(text_col)).alias("__t")
    ).select(id_col, F.explode(ngrams_from_tokens(F.col("__t"), n)).alias("g"))
    out = cand
    for i in range(k):
        w, m = _bloom_probe(F.col("g"), f"bl{i}:", m_bits)
        b = bloom.select(
            F.col("word").alias(f"__w{i}"), F.col("bits").alias(f"__b{i}")
        )
        out = out.join(
            F.broadcast(b), w == F.col(f"__w{i}"), "inner"
        ).filter(m.bitwiseAND(F.col(f"__b{i}")) == m)
    return out.select(id_col).distinct()


# PII patterns in the Java-regex ∩ RE2 common subset (no lookaround, no
# backrefs) so the DuckDB oracle matches byte for byte.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def char_bigram_typicality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-typicality quality signal: how frequent (in the corpus) are
    this document's character bigrams, on average — a perplexity proxy
    that needs no language model and no ``log`` (whose last ULP is
    engine-specific): typicality = ⌊avg over the doc's bigram occurrences
    of ⌊count(bigram)·10⁶ / total_bigrams⌋⌋. Low scores flag docs that
    do not look like the corpus (mojibake, foreign scripts, binary spew).

    Shape at scale: corpus bigram counts are ONE combiner-friendly shuffle
    on a bounded key space (charset², broadcast back); the per-doc average
    is a second combiner-friendly shuffle on the doc id. Integer
    arithmetic throughout (counts ≲ 9·10¹² stay overflow-safe; rescale the
    10⁶ factor for corpora beyond that).
    """
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(F.col(text_col)) - 1, F.lit(1))),
        lambda i: F.substring(F.col(text_col), i, 2),
    )
    occ = df.select(id_col, F.explode(bigrams).alias("bg"))
    counts = occ.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tot"))
    qf = counts.crossJoin(F.broadcast(total)).select(
        "bg", F.floor(F.col("cnt") * 1000000 / F.col("tot")).cast("long").alias("qf")
    )
    return (
        occ.join(F.broadcast(qf), "bg")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum("qf").alias("__s"))
        .select(
            id_col,
            "n_bigrams",
            F.floor(
                F.col("__s").cast("double") / F.col("n_bigrams").cast("double")
            ).cast("long").alias("typicality"),
        )
    )


def contamination_report(
    df: DataFrame, eval_df: DataFrame, id_col: str = "doc_id",
    text_col: str = "text", n: int = 8,
) -> DataFrame:
    """Attribution companion to :func:`contaminated_doc_ids`: one row per
    (candidate doc, eval doc) pair that shares ≥1 word n-gram, with the
    count of distinct shared grams — the evidence table a scrub decision
    reviews ("which benchmark leaked into which training doc, how hard").

    Same scale shape as the boolean variant: the eval side's distinct
    (gram, eval id) pairs broadcast; the corpus side joins map-only and
    only matching pairs reach the (doc, eval) count aggregate.
    """
    grams = lambda d, out: d.select(  # noqa: E731
        F.col(id_col).alias(out), _tokens(F.col(text_col)).alias("__t")
    ).select(
        out, F.explode(F.array_distinct(ngrams_from_tokens(F.col("__t"), n))).alias("g")
    )
    ev = grams(eval_df, "eval_id")
    cand = grams(df, id_col)
    return (
        cand.join(F.broadcast(ev), "g")
        .groupBy(id_col, "eval_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


def pii_redact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII scrubbing for training corpora: replace emails / phone numbers /
    IPv4 addresses with typed placeholder tokens and count the redactions
    per document. Pure ``regexp_replace``/``regexp_count`` column
    expressions — an embarrassingly parallel scan at 100 TB, no shuffle, no
    Python in the hot path. Emails are redacted before phones so digit runs
    inside an address never double-match."""
    t = F.col(text_col)
    # counts follow the SAME sequential pipeline as the redaction: phones
    # are counted on the email-redacted text and IPs on the
    # email+phone-redacted text, so a digit run inside an address can never
    # be reported as a phone redaction that clean_text doesn't contain
    after_email = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    after_phone = F.regexp_replace(after_email, PII_PHONE, "<PHONE>")
    clean = F.regexp_replace(after_phone, PII_IPV4, "<IP>")
    counts = {
        "n_emails": F.regexp_count(t, F.lit(PII_EMAIL)),
        "n_phones": F.regexp_count(after_email, F.lit(PII_PHONE)),
        "n_ips": F.regexp_count(after_phone, F.lit(PII_IPV4)),
    }
    return df.select(
        F.col(id_col), clean.alias("clean_text"),
        *[c.alias(n) for n, c in counts.items()],
    )


def boilerplate_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level boilerplate measurement (the C4/"common substring"
    family, over word n-grams because this corpus has no line breaks): an
    n-gram is *boilerplate* when it occurs in ≥ ``min_docs`` distinct
    documents; each document reports its total grams, boilerplate-gram
    occurrences, and the ratio.

    Shape at scale: ONE explode, ONE linear pipeline — (doc, gram) counts,
    then a count-only window over the gram key annotates each (doc, gram)
    row with how many documents carry that gram, then one per-doc
    aggregate folds totals and boilerplate hits together. Three sequential
    combiner-friendly shuffles, the corpus is tokenized exactly once, and
    there are no diamond branches (a branched formulation re-explodes the
    corpus per branch: column pruning specializes each branch's subplan,
    so ReusedExchange never fires — measured). The window needs no sort
    (no orderBy ⇒ full-partition frame) and its partitions are bounded by
    docs-per-gram. Documents shorter than n tokens produce no grams and
    are absent from the output — same as the oracle's empty
    generate_series."""
    from pyspark.sql import Window

    base = df.select(F.col(id_col), _tokens(F.col(text_col)).alias("__t"))
    grams = base.select(
        F.col(id_col), F.explode(ngrams_from_tokens(F.col("__t"), n)).alias("g")
    )
    gc = grams.groupBy(id_col, "g").agg(F.count("*").alias("c"))
    nd = F.count("*").over(Window.partitionBy("g"))
    hit = F.when(F.col("__nd") >= min_docs, F.col("c")).otherwise(F.lit(0))
    return (
        gc.withColumn("__nd", nd)
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(hit).alias("n_boiler"),
        )
        .select(
            F.col(id_col),
            F.col("n_grams"),
            F.col("n_boiler"),
            (F.col("n_boiler").cast("double") / F.col("n_grams").cast("double"))
            .alias("boiler_ratio"),
        )
    )


def token_count_stats(
    df: DataFrame, text_col: str = "text",
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Corpus token-budget statistics: doc count, total tokens, and EXACT
    token-count percentiles (discrete: smallest value whose cumulative count
    reaches ceil(p·n)) as one row.

    Scalable exact percentiles without sorting the corpus: aggregate to a
    (token_count, doc_count) histogram first — its size is bounded by the
    number of DISTINCT per-doc token counts, not by corpus size — then take
    a running sum over the tiny histogram. The only windowed stage runs over
    the histogram, never the raw rows, so there is no corpus-wide
    single-task sort at 100 TB. Integer counts end-to-end → deterministic,
    oracle-safe (the ceil(p·n) rank is the same IEEE double in any engine).
    """
    from pyspark.sql import Window

    tc = df.select(token_count(F.col(text_col)).alias("tc"))
    hist = tc.groupBy("tc").agg(F.count("*").alias("c"))
    totals = tc.agg(
        F.count("*").alias("n_docs"), F.sum("tc").alias("total_tokens")
    )
    # histogram-sized window: fine as a single task BY CONSTRUCTION
    w = Window.orderBy("tc").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("c").over(w))
    joined = cum.crossJoin(F.broadcast(totals))
    aggs = [F.first("n_docs").alias("n_docs"),
            F.first("total_tokens").alias("total_tokens")]
    for p in percentiles:
        name = f"p{round(p * 100)}"
        rank = F.ceil(F.lit(p) * F.col("n_docs"))
        aggs.append(
            F.min(F.when(F.col("cum") >= rank, F.col("tc"))).alias(name)
        )
    return joined.agg(*aggs)


def repeated_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-passage detection (the C4/RefinedWeb-style
    intra-corpus dedup signal): split each doc into NON-OVERLAPPING
    ``chunk_words``-word chunks and report every chunk appearing in ≥
    ``min_docs`` distinct documents, with doc and occurrence counts.

    Scale shape: chunking is a per-row JVM expression (transform/slice —
    no UDF, output rows ≈ tokens/chunk_words); the only shuffle is the
    combiner-friendly groupBy on the chunk string. At 100 TB hash the
    chunk (xxhash64) instead of carrying the string, and recover texts by
    joining winners back — same plan, narrower shuffle."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    cw = int(chunk_words)
    chunks_expr = F.expr(
        f"CASE WHEN size(__toks) >= {cw} THEN "
        f"transform(sequence(0, CAST(floor(size(__toks) / {cw}) AS INT) - 1),"
        f" i -> array_join(slice(__toks, i * {cw} + 1, {cw}), ' ')) "
        "ELSE array() END"
    )
    exploded = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), toks.alias("__toks"))
        .select(F.col(id_col), F.explode(chunks_expr).alias("chunk"))
    )
    return (
        exploded.groupBy("chunk")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_repeated_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Apply the `repeated_passages` signal: rewrite every document with
    its cross-document-repeated chunks REMOVED (the Lee-et-al-style
    "deduplicate training data" cleanup, at the same non-overlapping
    ``chunk_words`` granularity as detection).  The sub-chunk tail is
    always kept; chunk order is preserved; short docs (< one chunk) pass
    through verbatim.  Returns ``(id, n_chunks, n_removed, clean_text)``.

    Scale shape: detection's combiner groupBy on the chunk key, a
    semi-join-shaped LEFT join marking each doc's chunks (repeated-chunk
    table ≪ corpus — broadcastable), then a per-document rebuild
    (collect_list of the doc's OWN ≤ tokens/chunk_words chunks — bounded
    by document size, never by corpus).  Nothing corpus-sized reaches the
    driver."""
    cw = int(chunk_words)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    chunks_expr = F.expr(
        f"CASE WHEN size(__toks) >= {cw} THEN "
        f"transform(sequence(0, CAST(floor(size(__toks) / {cw}) AS INT) - 1),"
        f" i -> array_join(slice(__toks, i * {cw} + 1, {cw}), ' ')) "
        "ELSE array() END"
    )
    tail_expr = F.expr(
        f"array_join(slice(__toks, CAST(floor(size(__toks) / {cw}) AS INT)"
        f" * {cw} + 1, size(__toks)), ' ')"
    )
    # r11 shape: ONE exploded table carries each doc's chunks AND its
    # sub-chunk tail as a sentinel row (cpos = 2^31-1, always sorted
    # last).  The per-doc rebuild then has everything it needs, which
    # removes the old plan's third corpus scan and — the 100 TB win —
    # the final doc_id-keyed join that re-shuffled the corpus with its
    # full token arrays just to re-attach the tail.  A tail (< cw
    # tokens, possibly empty) can never string-equal a cw-token chunk
    # (whitespace tokens are non-empty), so the left join marks tails
    # null and the rebuild keeps them unconditionally, exactly like the
    # old two-branch plan.
    _TAIL_POS = (1 << 31) - 1
    entries_expr = F.expr(
        "concat(transform(__chunks, (c, i) -> struct(i AS cpos, c AS chunk)), "
        f"array(struct({_TAIL_POS} AS cpos, __tail AS chunk)))"
    )
    rows = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(
            F.col(id_col),
            chunks_expr.alias("__chunks"),
            tail_expr.alias("__tail"),
        )
        .select(F.col(id_col), F.explode(entries_expr).alias("__e"))
        .select(
            F.col(id_col),
            F.col("__e.cpos").alias("cpos"),
            F.col("__e.chunk").alias("chunk"),
        )
    )
    is_chunk = F.col("cpos") != _TAIL_POS
    rep = (
        rows.filter(is_chunk)
        .groupBy("chunk")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("chunk", F.lit(True).alias("__rep"))
    )
    marked = rows.join(rep, "chunk", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.when(is_chunk, F.lit(1))).alias("n_chunks"),
            F.count("__rep").alias("n_removed"),
            F.trim(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("__rep").isNull(),
                                    F.struct("cpos", "chunk"),
                                )
                            )
                        ),
                        lambda s: s["chunk"],
                    ),
                    " ",
                    # a NULL-text doc yields a NULL tail chunk; the old
                    # concat_ws skipped NULLs, array_join must too
                    "",
                )
            ).alias("clean_text"),
        )
        .select(id_col, "n_chunks", "n_removed", "clean_text")
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF keywords per document (keyword extraction for corpus
    indexing / topic labeling). The idf factor is the log-free rational
    form ``(N+1)/(df+1)`` so the score is a deterministic IEEE-double
    product reproducible in any engine — no libm ``ln`` whose last ulp can
    differ between JVM and DuckDB.

    Scale shape: two combiner-friendly shuffles — (doc, term) term
    frequencies, then (term) document frequencies; the corpus size N is a
    1-row aggregate broadcast into the join; the per-doc top-k window
    re-uses the (doc) hash partitioning and never sees raw tokens, only
    the (doc, term, tf) rows. No UDFs anywhere.

    Ties (equal score) break on term ASC — deterministic on any
    partitioning.

    PERF (measured at 10M synthetic docs / 400M tokens): term frequencies
    are counted INSIDE each row with higher-order functions, not with a
    ``groupBy(doc, term)`` — that aggregate's ~1-row-per-group structure
    defeats map-side combining and was 127 s of a 192 s run (spilling
    hash agg over 330M groups). The in-row count is O(tokens × distinct)
    in whole-stage codegen and turns the exploded stream into already-
    aggregated (doc, term, tf) rows; the only aggregations left are the
    combiner-friendly vocabulary-sized document-frequency count and the
    per-doc top-k window."""
    from pyspark.sql import Window

    t = F.col("__t")
    pairs = F.transform(
        F.array_distinct(t),
        lambda w: F.struct(
            w.alias("term"),
            F.size(F.filter(t, lambda x: x == w)).alias("tf"),
        ),
    )
    tf = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        # pre-project the token array once — HOF lambdas don't CSE an
        # inline split (see ngrams_from_tokens PERF note)
        .select(F.col(id_col), _tokens(F.col(text_col)).alias("__t"))
        .select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(F.col(id_col), F.col("p.term"), F.col("p.tf").cast("long").alias("tf"))
    )
    # tf rows are already distinct per (doc, term) → document frequency is
    # a plain count per term; vocabulary-sized output, map-side combined.
    # The re-attach broadcasts it — fits for vocabularies up to tens of
    # millions of terms; for larger, drop the hint and let AQE skew-join.
    dfq = F.broadcast(tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfq")))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf").cast("double") * (
        (F.col("n_docs") + 1).cast("double") / (F.col("dfq") + 1).cast("double")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(id_col, "term", "tf", "score")
    )


def bigram_lift(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
) -> DataFrame:
    """Corpus-level bigram association (collocation mining): for the
    ``top_n`` most frequent word bigrams, the lift
    ``P(ab) / (P(a)·P(b))`` — the log-free core of PMI (``PMI = ln lift``;
    ln is deliberately left out so the value is a deterministic IEEE
    division chain, hash-identical across engines).

    Scale shape: unigram and bigram counts are combiner-friendly
    hash aggregations; corpus totals are 1-row broadcasts; the final
    unigram re-attach joins the TINY top-n bigram set (TakeOrderedAndProject,
    never a global sort) against the unigram counts — broadcast the top-n
    side at 100 TB."""
    t = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(_tokens(F.col(text_col)).alias("t"))
    )
    uni = t.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    nu = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    bg = t.select(F.explode(ngrams_from_tokens(F.col("t"), 2)).alias("bigram"))
    bc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_ab"))
    nb = bg.agg(F.count(F.lit(1)).alias("n_bi"))
    top = bc.orderBy(F.col("c_ab").desc(), F.col("bigram").asc()).limit(top_n)
    top = top.withColumn("w1", F.element_at(F.split(F.col("bigram"), " "), 1))
    top = top.withColumn("w2", F.element_at(F.split(F.col("bigram"), " "), 2))
    ua = uc.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a"))
    ub = uc.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b"))
    lift = (
        F.col("c_ab").cast("double") / F.col("n_bi").cast("double")
    ) / (
        (F.col("c_a").cast("double") / F.col("n_uni").cast("double"))
        * (F.col("c_b").cast("double") / F.col("n_uni").cast("double"))
    )
    return (
        top.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "bigram", "c_ab", "c_a", "c_b", lift.alias("lift"),
        )
    )


def lang_confusion(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Code-switching / language-purity signal: per doc, the top and
    runner-up language-marker scores and their margin. A small margin on
    a nonzero top score means the document mixes language markers — the
    rows a multilingual pipeline routes to per-language review instead of
    blind bucketing. Integer scores and subtraction only (no ratios), so
    the output is engine-exact. Pure projection, zero shuffle."""
    scores = lang_scores(F.col(text_col))
    pairs = [
        F.struct(s.alias("s"), F.lit(lang).alias("l"))
        for lang, s in scores.items()
    ]
    arr = F.array_sort(F.array(*pairs))  # ascending by (score, lang)
    top = F.element_at(arr, -1)
    second = F.element_at(arr, -2)
    return df.select(
        "doc_id",
        top.getField("l").alias("top_lang"),
        top.getField("s").cast("long").alias("top_score"),
        second.getField("l").alias("second_lang"),
        second.getField("s").cast("long").alias("second_score"),
        (top.getField("s") - second.getField("s")).cast("long").alias("margin"),
    )


def linear_quality_model(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    positive: str = "en",
) -> DataFrame:
    """A trained quality filter, fit distributively in ONE pass — the
    linear-model analogue of the fastText/CCNet quality classifiers real
    LLM pipelines train over surface features.  Least squares on
    y = 1[label = positive] against two surface features
    (x1 = word_count/100, x2 = avg_word_len/10) via the normal equations:
    the 3x3 Gram matrix and moment vector are floor-quantized BIGINT sums
    (exact on any partitioning), and the solve is Cramer's rule written as
    ONE fixed arithmetic expression — identical IEEE ops in any engine, so
    the fitted weights and every downstream score are reproducible by a
    SQL oracle (no exp/sigmoid: logistic loss would drag in
    transcendentals whose last ULP differs across engines).

    Returns one row per label value: (label, n_docs, w0, w1, w2,
    avg_pred) — the shared global weights plus the label-slice mean of
    the predicted quality score (quantized mean, order-free).  A real
    deployment thresholds the per-doc score; the per-label means are the
    compact, verifiable summary of the same scoring pass.

    100 TB shape: pass 1 is a 9-term combiner aggregate to a single row
    (the only thing the driver ever holds is the 3x3 system); pass 2
    re-scans with the weights broadcast and reduces per label. No
    iteration, no collect of rows, no shuffle wider than the label
    cardinality."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    wc = F.size(toks).cast("double")
    x1 = wc / F.lit(100.0)
    x2 = F.length(F.col(text_col)).cast("double") / wc / F.lit(10.0)
    y = F.when(F.col(label_col) == positive, F.lit(1.0)).otherwise(F.lit(0.0))

    def q8(c):
        return F.sum(F.floor(c * F.lit(1e8))).cast("double") / F.lit(1e8)

    feats = df.select(
        F.col(label_col).alias("label"), x1.alias("x1"), x2.alias("x2"), y.alias("y")
    )
    sums = feats.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        q8(F.col("x1")).alias("s1"),
        q8(F.col("x2")).alias("s2"),
        q8(F.col("x1") * F.col("x1")).alias("s11"),
        q8(F.col("x1") * F.col("x2")).alias("s12"),
        q8(F.col("x2") * F.col("x2")).alias("s22"),
        q8(F.col("y")).alias("sy"),
        q8(F.col("x1") * F.col("y")).alias("s1y"),
        q8(F.col("x2") * F.col("y")).alias("s2y"),
    )
    # Singularity guard (round-4 advice): a corpus with constant or
    # perfectly collinear features makes the Gram matrix singular and the
    # Cramer solve would silently emit inf/NaN weights.  The moment
    # aggregate is ONE row (the only thing the driver ever holds), so
    # collect it, test |det| against the quantization-noise floor
    # (each 1e-8-floored sum carries error < n*1e-8; det is cubic in the
    # sums, so noise scales with n³·X²·1e-8), and re-feed the literal row
    # into the identical IEEE expression — still exactly two data scans.
    srow = sums.first()
    n_v, s1_v, s2_v = srow["n"], srow["s1"], srow["s2"]
    s11_v, s12_v, s22_v = srow["s11"], srow["s12"], srow["s22"]
    # Empty/degenerate corpus (round-4 advice): count 0 makes every other
    # aggregate NULL, and None would hit the det arithmetic with a
    # TypeError before the singularity guard could say anything useful.
    if not n_v or any(
        srow[k] is None
        for k in ("s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")
    ):
        raise ValueError(
            "linear_quality_model: empty or degenerate corpus "
            f"(n={n_v!r}) — the Gram matrix is singular; "
            "fit requires at least a few docs with non-constant features"
        )
    det_v = (
        n_v * (s11_v * s22_v - s12_v * s12_v)
        - s1_v * (s1_v * s22_v - s12_v * s2_v)
        + s2_v * (s1_v * s12_v - s11_v * s2_v)
    )
    x_scale = max(abs(s1_v) / max(n_v, 1.0), abs(s2_v) / max(n_v, 1.0), 1.0)
    # det is cubic in the sums: |Δdet| ≲ 3·S²·ε with S ≤ n·X and
    # ε < n·1e-8 per floored sum, hence the 3·n³·X²·1e-8 worst case
    noise_floor = 3.0 * (n_v ** 3) * (x_scale ** 2) * 1e-8
    if not math.isfinite(det_v) or abs(det_v) <= noise_floor:
        raise ValueError(
            "linear_quality_model: singular Gram matrix "
            f"(det={det_v!r}, noise floor={noise_floor!r}) — features are "
            "constant or collinear; pick non-degenerate features"
        )
    # pandas/Arrow path: the plain-list 1-row createDataFrame was
    # measured at ~450 ms of pickle round trip on the r11 box
    sums_lit = df.sparkSession.createDataFrame(
        pd.DataFrame([[srow[f] for f in sums.columns]], columns=sums.columns)
    )
    a, b, c = F.col("n"), F.col("s1"), F.col("s2")
    d, e_, f = F.col("s11"), F.col("s12"), F.col("s22")
    r0, r1, r2 = F.col("sy"), F.col("s1y"), F.col("s2y")
    det = a * (d * f - e_ * e_) - b * (b * f - e_ * c) + c * (b * e_ - d * c)
    det0 = r0 * (d * f - e_ * e_) - b * (r1 * f - e_ * r2) + c * (r1 * e_ - d * r2)
    det1 = a * (r1 * f - e_ * r2) - r0 * (b * f - e_ * c) + c * (b * r2 - r1 * c)
    det2 = a * (d * r2 - r1 * e_) - b * (b * r2 - r1 * c) + r0 * (b * e_ - d * c)
    weights = sums_lit.select(
        (det0 / det).alias("w0"), (det1 / det).alias("w1"), (det2 / det).alias("w2")
    )
    pred = F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
    return (
        feats.crossJoin(F.broadcast(weights))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.first("w0").alias("w0"),
            F.first("w1").alias("w1"),
            F.first("w2").alias("w2"),
            F.sum(F.floor(pred * F.lit(1e8))).alias("__qp"),
        )
        .select(
            "label", "n_docs", "w0", "w1", "w2",
            (
                F.col("__qp").cast("double") / F.col("n_docs").cast("double") / F.lit(1e8)
            ).alias("avg_pred"),
        )
    )


def _qident(name: str) -> str:
    """Backtick-quote a SQL identifier (r11: the hash-kernel featurizers
    build SQL text — one driver round trip — instead of per-column
    Column-API chains)."""
    return "`" + name.replace("`", "``") + "`"


def _qstr(s: str) -> str:
    """Single-quote a SQL string literal with backslash escaping."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _bucket_array_sql(text_col: str, d: int) -> str:
    """SQL text of the md5 token-bucket array — the identical expression
    tree `F.transform(tokens, w -> hash52('hk:', w) % d)` builds via the
    Column API (`export.hash52`: first 13 md5 hex chars, base-16 → 10,
    BIGINT), produced in one parse."""
    h = (
        "CAST(conv(substring(md5(concat('hk:', CAST(w AS STRING))), 1, 13), "
        f"16, 10) AS BIGINT) % {d}"
    )
    return (
        f"transform(split(trim({_qident(text_col)}), '\\\\s+'), w -> {h})"
    )


_HK_DENSE_MAX_D = 64  # d-column dense plan up to here, sparse above


def hash_kernel_classifier(
    train: DataFrame | None,
    score: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    positive: str = "en",
    id_col: str = "doc_id",
    d: int = 8,
    iters: int = 4,
    lr: float = 0.5,
    threshold: float = 0.5,
    train_filter: str | None = None,
) -> tuple[list[float], DataFrame]:
    """fastText-style quality classifier over HASHED n-gram features
    (the hashing-trick kernel: every token hashes into one of ``d``
    buckets via the engine-portable md5-derived ``hash52`` family, and a
    document's feature vector is its normalized bucket-count histogram),
    trained IN-ENGINE with ``iters`` fixed steps of quantized batch
    gradient descent on squared loss — the DCLM/CCNet pipeline stage
    that upgrades `linear_quality_model`'s two hand-picked surface
    features to a learned lexical signal.

    Determinism contract (the same playbook as the k-means/BPE/LM
    oracles): each step's gradient moments are per-doc FLOOR-quantized
    BIGINT sums (order-free on any partitioning), the weight update is a
    fixed IEEE expression (``w − lr·(S/n/1e8)``, ``lr`` dyadic), and the
    learned weights re-enter the plan as double literals — so a SQL
    oracle unrolling the same ``iters`` steps reproduces every weight
    and every downstream score bit for bit.  Squared loss, not
    logistic: a sigmoid would drag in transcendentals whose last ULP
    differs across engines.

    The ONE-head case of the K-head core (:func:`_hk_fit`, which picks
    the physical plan from ``d``): the head scores ``label_col ==
    positive`` and this wrapper only applies the threshold rule.
    Training reads ``train``, or — with ``train=None`` — the
    ``train_filter`` slice of ``score``.

    Returns ``(weights, scored)`` where ``weights`` is
    ``[bias, w_0..w_{d-1}]`` and ``scored`` is one row per scored doc:
    ``(id, qscore, keep)`` with ``keep = qscore >= threshold``."""
    w, scored = _hk_fit(
        train, score, [positive], text_col=text_col, label_col=label_col,
        id_col=id_col, d=d, iters=iters, lr=lr, train_filter=train_filter,
    )
    return w[0], _hk_keep(scored, id_col, threshold)


def hash_kernel_multiclass(
    train: DataFrame | None,
    score: DataFrame,
    classes: list[str],
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    d: int = 16,
    iters: int = 3,
    lr: float = 0.5,
    train_filter: str | None = None,
) -> tuple[dict[str, list[float]], DataFrame]:
    """One-vs-rest MULTICLASS hash-kernel classifier — in-engine trained
    language ID replacing the marker-list heuristic (`lang_id`) with a
    learned lexical signal, the fastText-style langid stage of a
    curation pipeline.

    Same contract and feature map as :func:`hash_kernel_classifier`,
    with one head per class trained SIMULTANEOUSLY by the same K-head
    core: every GD step is still ONE moment aggregate, so adding classes
    costs no extra scans (at 100 TB the corpus is read ``iters`` times
    total, not ``iters·K``).  Prediction = argmax over the K head scores
    with ties toward the lexicographically largest class label (the
    same ``greatest(struct(score, label))`` total rule as `lang_id`, so
    the SQL oracle replays it verbatim).

    Returns ``(weights, predicted)``: ``weights`` maps class →
    ``[bias, w_0..w_{d-1}]``; ``predicted`` is one row per scored doc
    ``(id, lang_pred, best_score)``."""
    if not classes or len(classes) < 2 or len(set(classes)) != len(classes):
        # the argmax runs greatest(struct…), which needs >= 2 heads —
        # fail up front, not after the GD work
        raise ValueError(
            f"classes must be >= 2 unique labels (one-vs-rest argmax "
            f"needs multiple heads): {classes}"
        )
    w, scored = _hk_fit(
        train, score, classes, text_col=text_col, label_col=label_col,
        id_col=id_col, d=d, iters=iters, lr=lr, train_filter=train_filter,
    )
    return dict(zip(classes, w)), _hk_argmax(scored, classes, id_col)


def _hk_keep(scored: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Binary decision rule over a one-head core frame:
    ``(id, qscore, keep)`` with ``qscore = s_0``."""
    return scored.selectExpr(
        _qident(id_col),
        "s_0 AS qscore",
        f"s_0 >= CAST({float(threshold)!r} AS DOUBLE) AS keep",
    )


def _hk_argmax(scored: DataFrame, classes: list[str], id_col: str) -> DataFrame:
    """Multiclass decision rule over a K-head core frame:
    ``(id, lang_pred, best_score)``, ties toward the largest label."""
    best = "greatest(" + ", ".join(
        f"struct(s_{i} AS s, {_qstr(c)} AS l)" for i, c in enumerate(classes)
    ) + ")"
    return scored.selectExpr(
        _qident(id_col), f"{best}.l AS lang_pred", f"{best}.s AS best_score"
    )


def _hk_fit(
    train: DataFrame | None,
    score: DataFrame,
    heads: list[str],
    *,
    d: int,
    iters: int,
    train_filter: str | None,
    **kw,
) -> tuple[list[list[float]], DataFrame]:
    """K-head hash-kernel fit: head ``i`` regresses ``label_col ==
    heads[i]``.  Returns ``(w, scored)`` — ``w[i]`` is head i's
    ``[bias, w_0..w_{d-1}]``, ``scored`` is ``(id, s_0..s_{K-1})``.

    One physical plan per ``d``: :func:`_hk_dense` for d ≤ 64 (d named
    columns — unbeatable at small d, but a 262k-column plan will not
    even compile at fastText-scale d), :func:`_hk_sparse` above.  The
    plans are BIT-IDENTICAL, not approximately equal: the sparse fold
    adds the non-zero ``w_j·x_j`` terms in the same ascending-j order as
    the dense chain, and the terms it skips are exact IEEE ``±0.0`` adds
    (identity on every reachable accumulator); the quantized moments are
    integer sums, order-free by construction.  The replica tests assert
    exact float equality of weights and scores across the two cores."""
    if d < 1 or iters < 1:
        raise ValueError(f"need d >= 1 and iters >= 1, got d={d} iters={iters}")
    if train_filter is not None and train is not None:
        raise ValueError(
            "hash-kernel classifier: pass train_filter with train=None "
            "(the slice is taken from `score`)"
        )
    if train_filter is None and train is None:
        raise ValueError("hash-kernel classifier: need train or train_filter")
    core = _hk_dense if d <= _HK_DENSE_MAX_D else _hk_sparse
    return core(
        train, score, heads, d=d, iters=iters, train_filter=train_filter, **kw
    )


_HK_EMPTY = "hash-kernel classifier: empty training slice — nothing to fit"


def _hk_dense(
    train: DataFrame | None,
    score: DataFrame,
    heads: list[str],
    *,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    d: int,
    iters: int,
    lr: float = 0.5,
    train_filter: str | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """Dense plan of the K-head core (see :func:`_hk_fit`): d named
    ``x_j`` columns from ONE featurize pass; each GD step is ONE
    map-side-combined moment aggregate carrying all K·(d+1) sums to a
    single bounded row; scoring is a pure literal-weight projection (no
    join, no shuffle, no exchange).

    With ``train_filter`` the corpus is featurized ONCE with id AND
    labels, GD trains on the filtered slice of the SAME cached features,
    and scoring reads the cache instead of re-hashing the corpus: one md5
    pass instead of 1.5 (train slice + full rescore).  The cache backs
    the returned plan, so it is registered in the package cache ledger
    for the caller to release."""
    from . import register_cache, restore_stage_conf, set_iterative_stage_conf

    spark = score.sparkSession
    K = len(heads)
    shared = train_filter is not None

    def featurize(df: DataFrame, with_id: bool, with_label: bool) -> DataFrame:
        # ONE spark.sql round trip instead of ~4·d Column-API calls: the
        # r11 profile measured each py4j call at ~0.5-2.5 ms, making
        # featurize CONSTRUCTION (not execution) cost ~1 s per run; the
        # SQL text builds the identical expression tree.  The subquery
        # keeps the two-step projection boundary: the md5 bucket array is
        # hashed ONCE per row behind the __b alias the d x_j expressions
        # reference (codegen subexpression elimination skips
        # lambda-bearing expressions, and CollapseProject leaves a
        # non-cheap multi-referenced alias alone, so the boundary holds).
        lead = []
        inner_lead = []
        if with_id:
            lead.append(_qident(id_col))
            inner_lead.append(_qident(id_col))
        if with_label:
            lead += [
                f"CASE WHEN {_qident(label_col)} = {_qstr(h)} "
                "THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END "
                f"AS y_{i}"
                for i, h in enumerate(heads)
            ]
            inner_lead.append(_qident(label_col))
        if shared:
            lead.append("__train")
            inner_lead.append("__train")
        xs = ", ".join(
            f"CAST(size(filter(__b, b -> b = {j})) AS DOUBLE) / "
            f"CAST(size(__b) AS DOUBLE) AS x{j}"
            for j in range(d)
        )
        return spark.sql(
            f"SELECT {', '.join(lead)}, {xs} FROM "
            f"(SELECT {', '.join(inner_lead)}, "
            f"{_bucket_array_sql(text_col, d)} AS __b FROM {{src}} "
            f"WHERE length(trim({_qident(text_col)})) > 0)",
            src=df,
        )

    # weights ride as ONE broadcast row of plain data (the oracle's CROSS
    # JOIN wt{i-1} shape), NOT as literals: literal weights change the
    # plan every GD step and whole-stage codegen recompiles the
    # K·(d+1)-expression moment aggregate each time — measured 2 s of
    # pure compilation per step at K=5, d=16; with column references the
    # plan is step-invariant and compiles once.  The aggregate list is
    # likewise built once, as SQL text (one parse per expression).
    wcols = [f"wb_{i}" for i in range(K)] + [
        f"c_{i}_{j}" for i in range(K) for j in range(d)
    ]
    aggs = [F.expr("count(1) AS n")]
    for i in range(K):
        pred = f"wb_{i}" + "".join(f" + c_{i}_{j} * x{j}" for j in range(d))
        err = f"(({pred}) - y_{i})"
        aggs.append(F.expr(f"CAST(sum(floor({err} * 1e8)) AS BIGINT) AS sb_{i}"))
        aggs += [
            F.expr(f"CAST(sum(floor(x{j} * {err} * 1e8)) AS BIGINT) AS s_{i}_{j}")
            for j in range(d)
        ]

    if shared:
        # the slice flag is evaluated on `score`'s own columns in the one
        # featurize pass, so the filter may name any of them, as on the
        # sparse core
        src = score.withColumn("__train", F.expr(train_filter))
        feats = register_cache(featurize(src, with_id=True, with_label=True))
        tf = feats.filter("__train")
    else:
        # try/finally below so a failure mid-loop (empty slice, executor
        # error) doesn't leak the cached slice for the session
        tf = featurize(train, with_id=False, with_label=True).persist()
    w = [[0.0] * (d + 1) for _ in heads]  # per head: [bias, w_0..w_{d-1}]
    # scoped AQE conf: `iters` tiny moment jobs + the cached featurize —
    # see pipeline.iterative_stage_conf for the rationale
    _conf = set_iterative_stage_conf(spark)
    try:
        for _ in range(iters):
            # pandas→Arrow: the plain-list createDataFrame path was
            # measured at ~450 ms per step
            vals = [h[0] for h in w] + [h[j + 1] for h in w for j in range(d)]
            wrow = F.broadcast(
                spark.createDataFrame(pd.DataFrame([vals], columns=wcols))
            )
            # ONE bounded row for ALL heads; plan identical every step
            row = tf.crossJoin(wrow).agg(*aggs).first()
            n = row["n"]
            if not n:
                raise ValueError(_HK_EMPTY)
            # mirror the oracle's op chain: (S / n) / 1e8, then w - lr*g
            for i, h in enumerate(w):
                h[0] = h[0] - lr * (row[f"sb_{i}"] / n / 1e8)
                for j in range(d):
                    h[j + 1] = h[j + 1] - lr * (row[f"s_{i}_{j}"] / n / 1e8)
    except BaseException:
        if shared:
            feats.unpersist()
        raise
    finally:
        restore_stage_conf(spark, _conf)
        if not shared:
            tf.unpersist()

    sf_feats = feats if shared else featurize(
        score, with_id=True, with_label=False
    )
    # scoring weights ARE literals (one compile, plan-linted join-free);
    # repr() round-trips every finite double and Spark's SQL parser
    # reads it back to the identical bits
    scores = [
        f"CAST({h[0]!r} AS DOUBLE)"
        + "".join(f" + CAST({h[j + 1]!r} AS DOUBLE) * x{j}" for j in range(d))
        + f" AS s_{i}"
        for i, h in enumerate(w)
    ]
    return w, sf_feats.selectExpr(_qident(id_col), *scores)


def _hk_sparse(
    train: DataFrame | None,
    score: DataFrame,
    heads: list[str],
    *,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    d: int,
    iters: int,
    lr: float = 0.5,
    train_filter: str | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """Sparse plan of the K-head core (see :func:`_hk_fit`) — the
    fastText-scale shape, chosen by measurement (SCALING.md round 9):

    * featurize ONCE to the TOKEN level: explode tokens → one combiner
      groupBy → ``(doc key, bucket, x)`` rows, persisted across all GD
      steps;
    * the K-head weight state rides as a BROADCAST HASH-JOIN TABLE of d
      narrow rows ``(bucket, w_0..w_{K-1})`` built via Arrow, NOT as one
      array row: a cross-joined 10 MB array column materializes into
      EVERY joined row once a higher-order fold knocks the projection
      out of codegen — measured ~12 ms/doc of pure memcpy at K·d = 1.3M,
      two orders of magnitude over the join itself.  The per-token join
      attaches exactly K doubles;
    * per prediction pass: token rows join the weight table, per-head
      terms ``w_ij·x_j`` are computed token-side (the same IEEE multiply
      as the dense chain), one groupBy(doc) re-collects them
      bucket-ASCENDING, and K ordered left folds add them in the dense
      chain's order;
    * per GD step: moments come back as ONE groupBy(cls, bucket) integer
      aggregate of ≤ K·(d+1) narrow rows, fetched via Arrow.

    Per-step and per-doc cost never materialize d — only the d-row
    weight table (a few MB broadcast) and the K·(d+1) weights on the
    driver scale with capacity (measured ~flat d=8 → d=2^18).  With
    ``train_filter`` GD trains on ``score.filter(train_filter)``."""
    from . import restore_stage_conf, set_iterative_stage_conf
    from .export import hash52

    spark = score.sparkSession
    if train_filter is not None:
        train = score.filter(train_filter)
    K = len(heads)
    wcols = [f"__w{i}" for i in range(K)]
    tkeys = ["__k", "__dup"] + [f"y_{i}" for i in range(K)]  # training keys

    def sparse_tok(df: DataFrame, with_id: bool) -> DataFrame:
        t = F.split(F.trim(F.col(text_col)), r"\s+")
        buckets = F.transform(t, lambda wd: hash52("hk:", wd) % d)
        if with_id:
            lead = [F.col(id_col).alias("__k")]
            keys = ["__k"]
        else:
            # DETERMINISTIC doc key (ADVICE r9): monotonically_increasing_id
            # on a persisted frame can shift if lost partitions recompute
            # between the fold and moment passes of an iteration (cluster
            # mode, executor loss), silently corrupting gradients.  Hash of
            # (text, label) + a row_number among exact duplicates is stable
            # under recomputation: identical rows are interchangeable, so
            # any rank permutation within a duplicate group yields the
            # identical token table.  One extra (text,label)-keyed shuffle,
            # paid once before the persist.
            from pyspark.sql import Window as _W

            lead = [
                F.xxhash64(F.col(text_col), F.col(label_col)).alias("__k"),
                F.row_number()
                .over(
                    _W.partitionBy(text_col, label_col).orderBy(F.lit(1))
                )
                .cast("long")
                .alias("__dup"),
            ] + [
                F.when(F.col(label_col) == h, F.lit(1.0))
                .otherwise(F.lit(0.0))
                .alias(f"y_{i}")
                for i, h in enumerate(heads)
            ]
            keys = tkeys
        base = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
            *lead, buckets.alias("__b")
        )
        tok = base.select(
            *keys,
            F.size("__b").cast("double").alias("__n"),
            F.explode("__b").alias("bucket"),
        )
        return (
            tok.groupBy(
                *keys, "__n", F.col("bucket").cast("int").alias("bucket")
            )
            .agg(F.count(F.lit(1)).alias("c"))
            .select(
                *keys,
                "bucket",
                # same value as dense x_j: long→double cast, then one
                # double division by the token count
                (F.col("c").cast("double") / F.col("__n")).alias("x"),
            )
        )

    def weight_table(w: list[list[float]]) -> DataFrame:
        # d narrow rows via Arrow — milliseconds even at d = 2^18; the
        # per-bucket weights are columns, not an array, so the joined
        # payload is exactly K doubles per token row
        cols = {"bucket": pd.Series(range(d), dtype="int32")}
        for i, h in enumerate(w):
            cols[wcols[i]] = pd.Series(h[1:], dtype="float64")
        return F.broadcast(spark.createDataFrame(pd.DataFrame(cols)))

    # the per-step moment query, formatted ONCE and parsed per step: one
    # spark.sql call replaces the several-hundred Column-API py4j round
    # trips the join+regroup+fold construction cost per step, and the K
    # BIASES ride in a broadcast row (columns __bias_i) instead of
    # literals, so the per-step plan is identical across steps and
    # whole-stage codegen compiles once.  Per-head errors sit behind
    # their own subquery projection (each referenced by a sentinel AND a
    # per-element lambda, so CollapseProject leaves the folds evaluated
    # once).  Sentinel bucket −1 carries (Σ⌊e·1e8⌋, n) per head.
    terms_sql = ", ".join(f"{wc} * x" for wc in wcols)
    folds_sql = ",\n               ".join(
        f"aggregate(ft, __bias_{i}, (acc, s) -> acc + s.t[{i}])"
        f" - y_{i} AS __e_{i}"
        for i in range(K)
    )
    sentinels_sql = ",\n              ".join(
        f"named_struct('cls', {i}, 'bucket', -1, "
        f"'q', CAST(floor(__e_{i} * 1e8) AS BIGINT))"
        for i in range(K)
    )
    heads_sql = ",\n            ".join(
        f"transform(ft, s -> named_struct('cls', {i}, "
        f"'bucket', s.bucket, "
        f"'q', CAST(floor(s.x * __e_{i} * 1e8) AS BIGINT)))"
        for i in range(K)
    )
    step_sql = f"""
        SELECT z.cls AS cls, z.bucket AS bucket,
               sum(z.q) AS s, count(1) AS c
        FROM (
          SELECT explode(concat(
            array({sentinels_sql}),
            {heads_sql}
          )) AS z
          FROM (
            SELECT ft,
               {folds_sql}
            FROM (
              SELECT {', '.join(tkeys)},
                     array_sort(collect_list(named_struct(
                       'bucket', bucket, 'x', x,
                       't', array({terms_sql})))) AS ft
              FROM {{tok}} JOIN {{w}} USING (bucket)
              GROUP BY {', '.join(tkeys)}
            ) CROSS JOIN {{b}}
          )
        )
        GROUP BY z.cls, z.bucket
    """

    _conf = set_iterative_stage_conf(spark)
    tfa = sparse_tok(train, with_id=False).persist()
    w = [[0.0] * (d + 1) for _ in heads]  # per head: [bias, w_0..w_{d-1}]
    try:
        for _ in range(iters):
            bdf = F.broadcast(
                spark.createDataFrame(
                    pd.DataFrame({f"__bias_{i}": [h[0]] for i, h in enumerate(w)}),
                    schema=", ".join(f"__bias_{i} double" for i in range(K)),
                )
            )
            # ≤ K·(d+1) narrow rows — the only driver traffic (Arrow)
            pdf = spark.sql(
                step_sql, tok=tfa, w=weight_table(w), b=bdf
            ).toPandas()
            sent_mask = pdf["bucket"] == -1
            sents = {
                int(r.cls): (int(r.s), int(r.c))
                for r in pdf[sent_mask].itertuples()
            }
            if 0 not in sents:
                raise ValueError(_HK_EMPTY)
            n = sents[0][1]
            # identical op chain to the dense core: (S / n) / 1e8, w - lr*g
            for i, h in enumerate(w):
                h[0] = h[0] - lr * (sents[i][0] / n / 1e8)
            for r in pdf[~sent_mask].itertuples():
                h, b = w[int(r.cls)], int(r.bucket) + 1
                h[b] = h[b] - lr * (int(r.s) / n / 1e8)
    finally:
        restore_stage_conf(spark, _conf)
        tfa.unpersist()

    # scoring: the same join + bucket-ascending regroup, K ordered left
    # folds (ascending bucket == the dense chain's add order; absent
    # terms are exact ±0.0 adds there) with the biases as literals
    terms = F.array(*[F.col(wc) * F.col("x") for wc in wcols])
    ft = (
        sparse_tok(score, with_id=True)
        .join(weight_table(w), "bucket")
        .select("__k", F.struct("bucket", "x", terms.alias("t")).alias("__s"))
        .groupBy("__k")
        .agg(F.array_sort(F.collect_list("__s")).alias("ft"))
    )
    return w, ft.select(
        F.col("__k").alias(id_col),
        *[
            F.aggregate(
                "ft", F.lit(h[0]), lambda acc, s: acc + s["t"][i]
            ).alias(f"s_{i}")
            for i, h in enumerate(w)
        ],
    )


# ----------------------------------------------- substring decontamination
class AhoCorasick:
    """Plain-Python Aho-Corasick automaton (trie + BFS failure links) for
    the multi-pattern substring scan.  Public-knowledge algorithm (Aho &
    Corasick 1975); built once per executor from the broadcast pattern
    list, then every document is scanned ONCE regardless of pattern count
    — `substring_decontaminate` runs it inside an Arrow-batched pandas UDF
    when the pattern table is above ``SUBSTRING_CONTAINS_MAX``."""

    __slots__ = ("goto", "fail", "out")

    def __init__(self, patterns: list[str]):
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[set[int]] = [set()]
        self.fail: list[int] = [0]
        for pid, pat in enumerate(patterns):
            node = 0
            for ch in pat:
                nxt = self.goto[node].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append(set())
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[node][ch] = nxt
                node = nxt
            if pat:
                self.out[node].add(pid)
        from collections import deque

        dq = deque(self.goto[0].values())
        while dq:
            u = dq.popleft()
            for ch, v in self.goto[u].items():
                dq.append(v)
                f = self.fail[u]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[v] = self.goto[f].get(ch, 0)
                self.out[v] |= self.out[self.fail[v]]

    def match_count(self, text: str) -> int:
        """Number of pattern ids occurring in ``text``: a pattern counts
        once however often it occurs, and a pattern string listed twice
        counts twice (two ids), matching the contains-join's one row per
        snippet row."""
        node = 0
        hits: set[int] = set()
        for ch in text:
            while node and ch not in self.goto[node]:
                node = self.fail[node]
            node = self.goto[node].get(ch, 0)
            if self.out[node]:
                hits |= self.out[node]
        return len(hits)


# Snippet count up to which substring_decontaminate runs the broadcast
# contains join, Aho-Corasick above it: on sf0.1 contains won at 20-65
# snippets, tied at 80 and lost from 100 up (SCALING.md)
SUBSTRING_CONTAINS_MAX = 80


def substring_decontaminate(
    corpus: DataFrame,
    patterns: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern_col: str = "snippet",
) -> DataFrame:
    """EXACT-substring eval-set decontamination — the verbatim-leakage
    check the n-gram pass approximates: a corpus doc is contaminated when
    any eval snippet occurs inside it at ANY character offset (no token
    boundary, no shingle alignment).  Returns one row per corpus doc:
    ``(id, n_hits, contaminated)`` where ``n_hits`` counts the snippet
    rows contained in the doc (each row once however often it occurs; a
    snippet listed twice counts twice; empty snippets are dropped).

    One bounded read of the snippet table (at most
    ``SUBSTRING_CONTAINS_MAX`` + 1 rows) picks the plan; both give the
    same rows:

    * up to ``SUBSTRING_CONTAINS_MAX`` snippets: snippets broadcast, JVM
      ``Contains`` predicate on a left join, per-doc count —
      O(docs × patterns) character scans in whole-stage codegen, no
      Python worker.
    * above it: Aho-Corasick — one automaton pass per document
      regardless of pattern count, O(doc_len + matches), built once per
      executor from the collected list and applied in an Arrow-batched
      pandas UDF.

    The contains join's cost grows with the pattern count while the
    automaton's barely does."""
    pats = patterns.select(F.col(pattern_col).alias("__snip")).filter(
        F.col("__snip") != ""
    )
    n_probe = len(pats.limit(SUBSTRING_CONTAINS_MAX + 1).collect())
    if n_probe <= SUBSTRING_CONTAINS_MAX:
        hit = corpus.join(
            F.broadcast(pats),
            F.contains(F.col(text_col), F.col("__snip")),
            "left",
        )
        return (
            hit.groupBy(id_col)
            .agg(F.count("__snip").alias("n_hits"))
            .select(
                id_col,
                "n_hits",
                (F.col("n_hits") > 0).alias("contaminated"),
            )
        )
    plist = [r["__snip"] for r in pats.collect()]
    holder: list[AhoCorasick] = []  # built lazily once per executor

    @F.pandas_udf("long")
    def nhits(texts: pd.Series) -> pd.Series:
        if not holder:
            holder.append(AhoCorasick(plist))
        ac = holder[0]
        return texts.map(lambda t: ac.match_count(t or ""))

    return corpus.select(
        F.col(id_col), nhits(F.col(text_col)).alias("n_hits")
    ).select(id_col, "n_hits", (F.col("n_hits") > 0).alias("contaminated"))


# ---------------------------------------------------------------------
# C4-style line-level cleaning (Raffel et al. 2020, §2.2) and Gopher
# document-shape rules (Rae et al. 2021, App. A1.1) — the two canonical
# rule-based quality filters every large-scale text pipeline runs before
# any learned filter.  Both are pure pyspark.sql.functions expressions
# (HOFs over the line/word arrays — whole-stage codegen, zero shuffle,
# embarrassingly parallel at 100 TB), and both are integer/boolean-exact:
# every ratio threshold is cross-multiplied into integer comparisons so
# the oracle can never sit on a float rounding boundary.
# ---------------------------------------------------------------------

_C4_TERMINAL = (".", "!", "?", '"')


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style cleaning: keep only lines that end in terminal
    punctuation, have ≥ ``min_words`` whitespace words, and don't mention
    "javascript" (case-insensitive); flag documents containing
    "lorem ipsum" or a curly brace, or retaining fewer than
    ``min_kept_lines`` lines.  (C4's "≥3 sentences" page rule is applied
    at kept-line granularity — documented divergence: we don't split
    sentences within a line.)

    Returns (doc_id, n_lines, n_kept, has_lorem, has_brace, keep_doc,
    clean_text) for every document.
    """
    lines = F.split(F.col(text_col), "\n")

    def _keep_line(l: Column) -> Column:
        t = F.trim(l)
        last = t.substr(F.length(t), F.lit(1))
        return (
            (F.size(F.split(t, r"\s+")) >= min_words)
            & last.isin(*_C4_TERMINAL)
            & ~F.contains(F.lower(l), F.lit("javascript"))
        )

    kept = F.filter(lines, _keep_line)
    lower = F.lower(F.col(text_col))
    has_lorem = F.contains(lower, F.lit("lorem ipsum"))
    has_brace = F.contains(F.col(text_col), F.lit("{"))
    n_kept = F.size(kept)
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        (
            (n_kept >= min_kept_lines) & ~has_lorem & ~has_brace
        ).alias("keep_doc"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100000,
) -> DataFrame:
    """Gopher document-shape rules as per-rule booleans plus the combined
    keep flag.  Rules (thresholds from Rae et al. 2021, App. A1.1):
    word count in [min_words, max_words]; mean word length in [3, 10];
    hash-symbol-to-word ratio ≤0.1 and ellipsis-to-word ratio ≤0.1 (two
    SEPARATE rules, as the paper states them; an ellipsis is ``...`` or
    the unicode ``…``); ≤90% of lines start with a bullet; ≤30% of lines
    end with an ellipsis; ≥80% of words contain an alphabetic character;
    ≥2 of 8 canonical English stopwords present.  Every ratio is
    cross-multiplied into integer comparisons (e.g. ``3·n ≤ Σ|w| ≤ 10·n``
    for mean word length) — no float anywhere.

    Word split regex-trims ALL whitespace (not ``F.trim``'s space-only):
    multi-line documents start with ``\\n`` often enough that the
    space-only trim would count a phantom empty first word, skewing the
    mean-word-length and alpha ratios (caught by the hypothesis fuzz).
    """
    t = F.regexp_replace(F.col(text_col), r"^\s+|\s+$", "")
    words = F.split(t, r"\s+")
    n_words = F.size(words).cast("long")
    word_chars = F.aggregate(
        F.transform(words, F.length),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    txt = F.col(text_col)
    hash_count = (F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))).cast("long")
    # 3·(count of "...") — kept pre-divided so everything stays integer
    ell_chars = (F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))).cast("long")
    # count of the single-char unicode ellipsis "…"
    uni_ell = (F.length(txt) - F.length(F.replace(txt, F.lit("…"), F.lit("")))).cast("long")
    lines = F.split(txt, "\n")
    n_lines = F.size(lines).cast("long")
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).substr(F.lit(1), F.lit(1)).isin("-", "*", "•"),
        )
    ).cast("long")
    ell_lines = F.size(
        F.filter(lines, lambda l: F.endswith(F.trim(l), F.lit("...")))
    ).cast("long")
    alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    stop_hits = sum(
        (
            F.array_contains(words, F.lit(s)).cast("long")
            for s in _GOPHER_STOPWORDS
        ),
        F.lit(0).cast("long"),
    )
    r_word_count = (n_words >= min_words) & (n_words <= max_words)
    r_mean_word_len = (F.lit(3) * n_words <= word_chars) & (
        word_chars <= F.lit(10) * n_words
    )
    # hash/words ≤ 0.1  ⇔  10·hash ≤ words
    r_hash_ratio = F.lit(10) * hash_count <= n_words
    # ellipses/words ≤ 0.1 with ell_count = ell_chars/3 + uni_ell
    #   ⇔  10·(ell_chars + 3·uni_ell) ≤ 3·words
    r_ellipsis_ratio = (
        F.lit(10) * (ell_chars + F.lit(3) * uni_ell) <= F.lit(3) * n_words
    )
    r_bullet_lines = F.lit(10) * bullet_lines <= F.lit(9) * n_lines
    r_ellipsis_lines = F.lit(10) * ell_lines <= F.lit(3) * n_lines
    r_alpha_words = F.lit(5) * alpha_words >= F.lit(4) * n_words
    r_stopwords = stop_hits >= 2
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        r_word_count.alias("r_word_count"),
        r_mean_word_len.alias("r_mean_word_len"),
        r_hash_ratio.alias("r_hash_ratio"),
        r_ellipsis_ratio.alias("r_ellipsis_ratio"),
        r_bullet_lines.alias("r_bullet_lines"),
        r_ellipsis_lines.alias("r_ellipsis_lines"),
        r_alpha_words.alias("r_alpha_words"),
        r_stopwords.alias("r_stopwords"),
        (
            r_word_count
            & r_mean_word_len
            & r_hash_ratio
            & r_ellipsis_ratio
            & r_bullet_lines
            & r_ellipsis_lines
            & r_alpha_words
            & r_stopwords
        ).alias("keep_doc"),
    )


def heaps_curve(
    df: DataFrame,
    n_buckets: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: split the corpus into
    ``n_buckets`` contiguous doc-id prefixes and report cumulative token
    count vs cumulative distinct-vocabulary size at each prefix boundary —
    the standard diagnostic for how much *new* vocabulary additional data
    buys a tokenizer/LM.

    Scale shape: cumulative-distinct is NOT computed per prefix (that
    would be n_buckets corpus-sized distincts); instead each token's
    FIRST bucket is a single combiner-friendly ``groupBy(token).min``,
    and the per-bucket news are rolled up by a window over n_buckets
    rows.  All counts are integers — exact at any scale.
    """
    bounds = df.groupBy().agg((F.max(id_col) + 1).cast("double").alias("n_ids"))
    t = F.trim(F.col(text_col))
    bucket = (
        F.floor((F.col(id_col) * n_buckets).cast("double") / F.col("n_ids"))
        .cast("long")
        .alias("bucket")
    )
    base = df.filter(F.length(t) > 0).crossJoin(F.broadcast(bounds))
    toks = base.select(bucket, F.explode(F.split(t, r"\s+")).alias("token"))
    first_seen = toks.groupBy("token").agg(F.min("bucket").alias("fb"))
    new_vocab = first_seen.groupBy("fb").agg(
        F.count(F.lit(1)).alias("new_vocab")
    )
    # per-bucket token counts WITHOUT re-exploding the corpus (r11): the
    # old plan evaluated `toks` twice — the vocabulary branch above and a
    # second full explode just to count rows per bucket; sum(size(tokens))
    # per bucket is the same integer from the pre-explode rows.
    per_bucket = (
        base.select(bucket, F.size(F.split(t, r"\s+")).cast("long").alias("__n"))
        .groupBy("bucket")
        .agg(F.sum("__n").alias("n_tokens"))
        .join(new_vocab, F.col("bucket") == F.col("fb"), "left")
        .select(
            "bucket",
            "n_tokens",
            F.coalesce("new_vocab", F.lit(0)).alias("new_vocab"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        F.col("bucket"),
        F.sum("n_tokens").over(w).alias("cum_tokens"),
        F.sum("new_vocab").over(w).alias("cum_vocab"),
    )


def zipf_slope(
    df: DataFrame,
    top_n: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Zipf's-law fit over the ``top_n`` most frequent tokens: the
    log-log rank/frequency regression slope (≈ −1 for natural language —
    deviations flag synthetic/boilerplate-heavy corpora, a standard
    corpus-health diagnostic next to the Heaps' curve).

    Scale shape: one combiner-friendly ``groupBy(token)`` count, a
    distributed partial top-k (TakeOrderedAndProject — never a global
    sort), then ranks + regression moments over the driver-bounded
    top_n slice.  Float determinism: ln(rank) and ln(count) quantize to
    integer MICRONATS by spec (the ``perplexity_score`` contract), the
    five regression moments are exact BIGINT sums (top_n ≤ 1000 keeps
    Σxy < 2^61 even at 100 TB token counts), and the slope/intercept are
    one fixed IEEE expression over those integers — bit-identical across
    engines.

    Returns one row: (n_top, slope, intercept_micronats).
    """
    t = F.trim(F.col(text_col))
    counts = (
        df.filter(F.length(t) > 0)
        .select(F.explode(F.split(t, r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(top_n)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    ranked = top.select(
        F.col("cnt"), F.row_number().over(w).cast("long").alias("rnk")
    )
    micro = F.lit(1000000.0)
    q = ranked.select(
        F.floor(F.log(F.col("rnk").cast("double")) * micro)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("cnt").cast("double")) * micro)
        .cast("long")
        .alias("y"),
    )
    m = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    # n_top < 2 ⇒ the denominator n·Σx² − (Σx)² is exactly 0 (all x
    # equal): ANSI mode would throw DIVIDE_BY_ZERO on a degenerate
    # corpus, so the regression is NULL when there is no line to fit
    # (guard mirrored in the corpus_zipf_slope oracle).
    slope = F.when(
        F.col("n") > 1, (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    )
    return m.select(
        F.col("n").alias("n_top"),
        slope.alias("slope"),
        F.when(F.col("n") > 1, (sy - slope * sx) / nd).alias(
            "intercept_micronats"
        ),
    )


def collapse_stutter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Collapse CONSECUTIVE duplicate whitespace tokens ("merge the the
    table" → "merge the table") — the token-stutter normalization a
    cleaning pipeline runs on OCR/ASR/scrape artifacts (repeated-word
    stutter is the classic extraction glitch; cross-document and
    within-document REPEATED-PASSAGE dedup live in `pipeline/dedup.py` —
    this is the orthogonal, token-granularity case).

    Returns ``(id, n_tokens, n_collapsed, clean_text)`` for every
    document: ``clean_text`` keeps the FIRST token of each run and
    single whitespace, ``n_collapsed`` counts dropped repeats.

    Shape: ONE higher-order filter over the token array — a pure
    whole-stage-codegen projection, zero shuffle, zero Python; at
    100 TB the scan is the cost (the `c4_clean` family).  The oracle
    replays it relationally (per-token lag window inside each document)
    — same first-of-run semantics, exact row-for-row."""
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    t = F.col("__t")
    # CASE (not boolean OR) guards the 1-based element_at: ANSI mode
    # throws on index 0, and only CaseWhen guarantees the lazy branch
    kept = F.filter(
        t,
        lambda x, i: F.when(i == 0, F.lit(True)).otherwise(
            x != F.element_at(t, i)
        ),
    )
    return (
        df.select(F.col(id_col), toks.alias("__t"))
        .select(
            F.col(id_col),
            F.size("__t").cast("long").alias("n_tokens"),
            (F.size("__t") - F.size(kept)).cast("long").alias("n_collapsed"),
            F.array_join(kept, " ").alias("clean_text"),
        )
    )
