#!/usr/bin/env python3
"""Scaling probe: time representative operators at geometrically growing
synthetic input sizes and print sec + rows/sec per point.

This substantiates SCALE.md's designs with measurements: an operator whose
plan is scale-correct shows near-linear wall-clock growth (slope ~1 on the
size ratio) on a fixed local[32]; a super-linear slope exposes a hidden
quadratic or a single-task stage. Synthetic inputs are generated with
spark.range (deterministic columns) so the probe needs no testdata and can
be pushed to any size.

Usage: python tools/scaling_probe.py [sizes...]  (default 100k 1M 10M rows)
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _docs(spark, n: int):
    # ~40-token synthetic docs from a 64-word vocabulary, deterministic
    words = [f"w{i}" for i in range(64)]
    vocab = F.array(*[F.lit(w) for w in words])
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda i: F.element_at(
            vocab,
            ((F.xxhash64(F.col("id") * 41 + i) % 64 + 64) % 64 + 1).cast("int"),
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.array_join(toks, " ").alias("text")
    )


def _events(spark, n: int):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        ((F.col("id") * 2654435761) % 100000).alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 7).cast("string")).alias("event_type"),
        ((F.col("id") % 1000).cast("double") / 10.0).alias("value"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") % 86400).alias("ts"),
    )


def _embs(spark, n: int, dim: int = 64):
    # deterministic pseudo-random embeddings in [-1, 1)
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (
            ((F.xxhash64(F.col("id") * 131 + i) % 2000 + 2000) % 2000).cast(
                "double"
            )
            / 1000.0
            - 1.0
        ).cast("float"),
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )


def _lm_perplexity(spark, n: int):
    from interference_spark.pipeline.lm import perplexity_filter, train_bigram_lm

    docs = _docs(spark, n)
    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return perplexity_filter(
        docs.filter(F.col("doc_id") % 2 == 1), lm, threshold_nats=4.2
    )


def _bm25(spark, n: int):
    from interference_spark.pipeline.retrieval import bm25_topk

    return bm25_topk(_docs(spark, n), ["w3", "w17", "w42"], k=15)


def _novelty(spark, n: int):
    from interference_spark.pipeline.text import ngram_novelty

    docs = _docs(spark, n)
    return ngram_novelty(
        docs.filter(F.col("doc_id") >= 1000), docs.filter(F.col("doc_id") < 1000)
    )


def _rich_docs(spark, n: int, vocab: int = 50_000, doc_words: int = 40):
    """Docs over a LARGE pseudo-random word pool (8 lowercase chars each)
    — enough pair diversity to sustain 1000+ BPE merges, unlike the
    64-word probe corpus above."""
    word = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda j: F.char(
                F.lit(97)
                + (
                    (
                        F.xxhash64(
                            ((F.xxhash64(F.col("id") * 41 + F.col("pos")) % vocab + vocab) % vocab) * 37
                            + j
                        )
                        % 26
                        + 26
                    )
                    % 26
                )
            ),
        ),
        "",
    )
    return (
        spark.range(n)
        .select("id", F.explode(F.sequence(F.lit(1), F.lit(doc_words))).alias("pos"))
        .select(F.col("id").alias("doc_id"), word.alias("word"))
        .groupBy("doc_id")
        .agg(F.array_join(F.collect_list("word"), " ").alias("text"))
    )


def _line_docs(spark, n: int, lines: int = 8, words_per_line: int = 6):
    """Multi-line synthetic docs (terminal-punctuated lines) so the
    line-level C4/Gopher HOFs do real per-line work, not a 1-line no-op."""
    words = [f"w{i}" for i in range(64)]
    vocab = F.array(*[F.lit(w) for w in words])
    line = lambda li: F.concat(  # noqa: E731
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(words_per_line)),
                lambda wi: F.element_at(
                    vocab,
                    (
                        (F.xxhash64(F.col("id") * 977 + li * 31 + wi) % 64 + 64)
                        % 64
                        + 1
                    ).cast("int"),
                ),
            ),
            " ",
        ),
        F.lit("."),
    )
    text = F.array_join(
        F.transform(F.sequence(F.lit(1), F.lit(lines)), line), "\n"
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )


def probe_bpe_merges(
    spark, merge_counts: list[int], merges_per_round: int = 32,
    n_docs: int = 100_000, path: str = "auto",
) -> dict:
    """Round-count scaling of batched BPE training: fixed corpus, growing
    n_merges.  Near-linear sec-vs-merges slope (and rounds ~= merges/k)
    is the evidence that merges_per_round removes the per-merge
    sequential-job ceiling.  ``path`` picks the training loop: ``auto``
    (the library's choice: the driver loop when the word table fits
    ``pipeline.DRIVER_COLLECT_CAP``), ``driver`` (cap raised above the
    table) or ``spark_loop`` (cap lowered to 0).  Rounds are counted at
    ``bpe.select_round``, which both loops call once per round."""
    import interference_spark.pipeline as pipeline_mod
    import interference_spark.pipeline.bpe as bpe_mod

    docs = _rich_docs(spark, n_docs).persist()
    docs.count()
    out: dict[int, dict] = {}
    orig, orig_cap = bpe_mod.select_round, pipeline_mod.DRIVER_COLLECT_CAP
    cap = {"auto": orig_cap, "driver": 2**31 - 2, "spark_loop": 0}[path]
    for nm in merge_counts:
        rounds = {"n": 0}

        def counted(*a, **kw):
            rounds["n"] += 1
            return orig(*a, **kw)

        bpe_mod.select_round = counted
        pipeline_mod.DRIVER_COLLECT_CAP = cap
        try:
            t0 = time.perf_counter()
            merges, words = bpe_mod.bpe_train(
                docs, n_merges=nm, merges_per_round=merges_per_round
            )
            learned = merges.count()
            words.unpersist()
            out[nm] = {
                "sec": round(time.perf_counter() - t0, 2),
                "rounds": rounds["n"],
                "learned": int(learned),
            }
        finally:
            bpe_mod.select_round = orig
            pipeline_mod.DRIVER_COLLECT_CAP = orig_cap
        print(f"bpe_merges {path} {nm}: {out[nm]}", flush=True)
        spark.catalog.clearCache()
    docs.unpersist()
    return out


def probe(spark, sizes: list[int], only: set[str] | None = None) -> dict:
    from interference_spark.pipeline.dedup import (
        exact_dedup,
        incremental_minhash_dedup,
        minhash_dedup_pairs,
        minhash_signatures,
        simhash_pairs,
    )
    from interference_spark.pipeline.bpe import bpe_train
    from interference_spark.pipeline.pq import pq_encode, pq_search, pq_train
    from interference_spark.pipeline.similarity import semantic_decontaminate
    from interference_spark.pipeline.lm import dsir_log_weights as _dsir_weights
    from interference_spark.pipeline.lm import train_bigram_lm as _train_lm
    from interference_spark.pipeline.retrieval import rrf_fusion_topk as _rrf
    from interference_spark.pipeline.text import c4_clean as _c4
    from interference_spark.pipeline.text import gopher_quality_flags as _gopher
    from interference_spark.pipeline.text import heaps_curve as _heaps
    from interference_spark.pipeline.text import substring_decontaminate
    from interference_spark.pipeline.sketch import kmv_distinct_count
    from interference_spark.pipeline.stats import (
        exact_group_percentiles,
        key_skew_profile,
    )
    from interference_spark.pipeline.text import tfidf_top_terms

    # pair-producing dedup ops get 10x smaller inputs: their OUTPUT (not
    # their plan) is what grows super-linearly on a tiny synthetic
    # vocabulary, and the probe measures plan scaling, not output volume
    pair_ops = {"dedup_minhash_lsh", "dedup_simhash", "dedup_incremental_minhash"}
    ops = {
        "dedup_exact": lambda n: exact_dedup(_docs(spark, n)),
        "dedup_minhash_lsh": lambda n: minhash_dedup_pairs(
            _docs(spark, n), threshold=0.9
        ),
        "dedup_simhash": lambda n: simhash_pairs(_docs(spark, n), max_hamming=1),
        "tfidf_top_terms": lambda n: tfidf_top_terms(_docs(spark, n)),
        "exact_percentiles": lambda n: exact_group_percentiles(
            _events(spark, n), ("event_type",), "value"
        ),
        "kmv_distinct": lambda n: kmv_distinct_count(
            _events(spark, n), "user_id", k=256
        ),
        "skew_profile": lambda n: key_skew_profile(
            _events(spark, n), "user_id", top_n=20
        ),
        # r4 additions: registry admission is a pair-producing op on the
        # tiny synthetic vocabulary → 10x-reduced sizes like the other two
        "dedup_incremental_minhash": lambda n: incremental_minhash_dedup(
            _docs(spark, n).filter(F.col("doc_id") % 2 == 1),
            minhash_signatures(_docs(spark, n).filter(F.col("doc_id") % 2 == 0)),
            threshold=0.9,
        ),
        # fixed 100-vector eval side (the realistic shape: eval sets do
        # not grow with the corpus) → corpus-linear UDF work
        "decontaminate_semantic": lambda n: semantic_decontaminate(
            _embs(spark, n).filter(F.col("vec_id") >= 100),
            _embs(spark, 100),
            threshold=0.5,
        ),
        # r5: exact-substring decontamination — fixed 100-snippet
        # pattern side (eval sets do not grow with the corpus); 100 is
        # above text.SUBSTRING_CONTAINS_MAX, so this times the
        # Aho-Corasick plan (the r5 SCALING.md row timed the contains
        # plan, before the pattern count picked it)
        "decontaminate_substring": lambda n: substring_decontaminate(
            _docs(spark, n).filter(F.col("doc_id") >= 100),
            _docs(spark, 100).select(
                F.substring("text", 1, 32).alias("snippet")
            ),
        ),
        # r5: bigram-LM perplexity scoring — train on the even half,
        # score the odd half; two counting shuffles + two keyed joins,
        # all corpus-linear
        "lm_perplexity": lambda n: _lm_perplexity(spark, n),
        # r5: BM25 over a 3-term probe query — the isin filter prunes the
        # token stream before the tf shuffle, so the aggregated volume is
        # |matching tokens|, not corpus tokens
        "rank_bm25": lambda n: _bm25(spark, n),
        # r5: trigram novelty vs a fixed 1k-doc reference (eval-style
        # reference side does not grow with the corpus) — one reference
        # distinct + a gram-keyed membership join, corpus-linear
        "text_novelty": lambda n: _novelty(spark, n),
        # r7: rule-based cleaning — pure HOF projections over the
        # line/word arrays, zero shuffle; the probe pins the scan slope
        "clean_c4": lambda n: _c4(_line_docs(spark, n)),
        "quality_gopher": lambda n: _gopher(_line_docs(spark, n)),
        # r7: Heaps'-law curve over a 50k-word vocabulary — one
        # combiner-friendly groupBy(token).min + a 10-row window
        "corpus_heaps": lambda n: _heaps(_rich_docs(spark, n)),
        # r7: hybrid RRF retrieval — two depth-bounded top-ks (BM25 +
        # cosine), fusion joins two 50-row sets; corpus-linear scans
        "rank_rrf_fusion": lambda n: _rrf(
            _docs(spark, n),
            _embs(spark, n),
            ["w1", "w2", "w3"],
            [float((i % 7) - 3) for i in range(64)],
            depth=50,
        ),
        # r7: DSIR log-weights — two bigram-LM trainings (4 counting
        # combines) + the 4-way scoring join; everything corpus-linear,
        # vocab tables broadcast
        "select_dsir": lambda n: _dsir_weights(
            _docs(spark, n),
            _train_lm(_docs(spark, n).filter(F.col("doc_id") % 2 == 0)),
            _train_lm(_docs(spark, n)),
        ),
    }
    out: dict[str, dict] = {}
    for name, make in ops.items():
        if only and name not in only:
            continue
        out[name] = {}
        for n in sizes:
            n = n // 10 if name in pair_ops else n
            df = make(n)
            df.write.format("noop").mode("overwrite").save()  # warm
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            out[name][n] = round(dt, 3)  # keyed by the ACTUAL size used
            spark.catalog.clearCache()
        print(name, out[name], flush=True)

    # r5 EAGER ops: training runs inside the call (bounded driver
    # collects per iteration), so the probe times the whole callable,
    # not a deferred plan write
    def _bpe(n: int) -> None:
        _merges, words = bpe_train(_docs(spark, n), n_merges=4)
        words.unpersist()

    def _pq(n: int) -> None:
        emb = _embs(spark, n)
        q = [float(x) for x in emb.first()["embedding"]]
        books = pq_train(emb, m=8, k=16, iters=2)
        pq_search(pq_encode(emb, books), books, q, topk=10).collect()

    for name, fn in {
        "bpe_train_4merges": _bpe,
        "sim_pq_train_encode_search": _pq,
    }.items():
        if only and name not in only:
            continue
        out[name] = {}
        for n in sizes:
            fn(n)  # warm
            t0 = time.perf_counter()
            fn(n)
            out[name][n] = round(time.perf_counter() - t0, 3)
            spark.catalog.clearCache()
        print(name, out[name], flush=True)
    return out


def probe_substring_skew(spark, sizes: list[int], k: int = 8) -> dict:
    """Hot-shingle skew probe for the exact-substring family (VERDICT r6
    ask #3): a wide-vocab corpus where 10% of the docs of BOTH sides
    share one verbatim boilerplate sentence — every one of its k-grams
    is a hot posting whose uncapped join cost is |posting_a|·|posting_b|
    (quadratic in corpus size), while max_posting_len excludes the tiny
    hot digest set and restores the linear gram join.  Times
    exact_substring_pairs uncapped vs capped at each size."""
    from interference_spark.pipeline.dedup import exact_substring_pairs

    boiler = " ".join(f"bp{i}" for i in range(2 * k))  # 2k-token sentence
    out: dict[str, dict] = {"uncapped": {}, "capped": {}}
    for n in sizes:
        # doc_id % 10 IN (0, 1): one even and one odd residue, so the
        # boilerplate lands in 10% of BOTH corpora (a %10==0 condition
        # would put every boilerplate doc on the even/A side and the
        # cross join would never see a hot pair)
        docs = _rich_docs(spark, n).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 < 2,
                F.concat(F.lit(boiler + " "), F.col("text")),
            ).otherwise(F.col("text")),
        )
        a = docs.filter(F.col("doc_id") % 2 == 0)
        b = docs.filter(F.col("doc_id") % 2 == 1)
        for mode, cap in (("uncapped", None), ("capped", 64)):
            df = exact_substring_pairs(a, b, k=k, max_posting_len=cap)
            df.write.format("noop").mode("overwrite").save()  # warm
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            out[mode][n] = round(time.perf_counter() - t0, 3)
            spark.catalog.clearCache()
        print(n, {m: out[m][n] for m in out}, flush=True)
    return out


def _tpch_scaled_dir(spark, base_dir: str, m: int, out_dir: str) -> None:
    """Materialize a TPC-H-shaped directory at m× the base fact volume:
    lineitem and orders replicated m times with l_orderkey/o_orderkey
    remapped to ``key*m + replica`` (each replica of an order keeps its
    own lineitems, so every join/group cardinality per order is
    UNCHANGED and query results scale exactly linearly in m); dimension
    tables copy through at 1× — the realistic shape: facts grow with
    business volume, dims don't."""
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    rep = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("__r")
    li = spark.read.parquet(f"{base_dir}/lineitem.parquet")
    li.select("*", rep).withColumn(
        "l_orderkey", F.col("l_orderkey") * m + F.col("__r")
    ).drop("__r").write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{base_dir}/orders.parquet")
    orders.select("*", rep).withColumn(
        "o_orderkey", F.col("o_orderkey") * m + F.col("__r")
    ).drop("__r").write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")
    for t in ("customer", "supplier", "part", "nation", "region"):
        dst = f"{out_dir}/{t}.parquet"
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        elif os.path.exists(dst):
            os.remove(dst)
        shutil.copyfile(f"{base_dir}/{t}.parquet", dst)


def probe_tpch(spark, base_dir: str, factors: list[int]) -> dict:
    """Second-source scale evidence for the TPC-H heads (VERDICT r6 ask
    #6): the bench is sf0.1-only and plan audits can't see sort/shuffle
    cliffs — this times q1/q7/q8/q18 at 1×/10×/100× the sf0.1 fact
    volume (60M lineitem rows at 100×) and reports per-point seconds, so
    a super-linear slope is measured, not argued away."""
    import tempfile

    from interference_spark import inventory

    heads = ("q1_pricing_summary", "q7_volume_shipping",
             "q8_market_share", "q18_large_orders")
    out: dict[str, dict] = {q: {} for q in heads}
    for m in factors:
        if m == 1:
            d = base_dir
        else:
            d = os.path.join(tempfile.gettempdir(), f"ifs_tpch_x{m}")
            t0 = time.perf_counter()
            _tpch_scaled_dir(spark, base_dir, m, d)
            print(f"generated {m}x dir in {time.perf_counter()-t0:.1f}s",
                  flush=True)
        for q in heads:
            fn = inventory.QUERIES[q]
            fn(spark, d).write.format("noop").mode("overwrite").save()  # warm
            t0 = time.perf_counter()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            out[q][m] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        print({q: out[q][m] for q in heads}, flush=True)
    return out


def _vocab_docs(spark, n: int, vocab: int):
    """~40-token docs over a ``vocab``-word vocabulary: with uniform
    random tokens the distinct-bigram count approaches the bigram
    instance count (~39·n), which is what sizes DSIR's merged LM
    lookup — the auto-broadcast decision input."""
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda i: F.concat(
            F.lit("v"),
            (
                (F.xxhash64(F.col("id") * 41 + i) % vocab + vocab) % vocab
            ).cast("string"),
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.array_join(toks, " ").alias("text")
    )


@contextmanager
def _forced_dsir_tier(tier: str | None):
    """Force one DSIR join tier ("broadcast", "hashed_broadcast" or
    "shuffled") for the ``dsir_log_weights`` calls inside the block by
    moving the module cutoffs it reads at call time; ``None`` leaves the
    row count to pick the tier."""
    from interference_spark.pipeline import lm

    saved = lm._DSIR_BROADCAST_MAX_ROWS, lm._DSIR_HASHED_BROADCAST_MAX_ROWS
    if tier is not None:
        big = 1 << 62
        lm._DSIR_BROADCAST_MAX_ROWS, lm._DSIR_HASHED_BROADCAST_MAX_ROWS = {
            "broadcast": (big, big),
            "hashed_broadcast": (-1, big),
            "shuffled": (-1, -1),
        }[tier]
    try:
        yield
    finally:
        lm._DSIR_BROADCAST_MAX_ROWS, lm._DSIR_HASHED_BROADCAST_MAX_ROWS = saved


def probe_dsir_auto(spark, n_docs: int, vocab: int) -> dict:
    """DSIR tier cutover probe (VERDICT r7 ask #6): build a corpus whose
    merged bigram lookup EXCEEDS the 10M-row broadcast cutoff, confirm
    the row count picks the shuffled plan while the forced
    broadcast/shuffled tiers produce BIT-IDENTICAL integer weights, and
    record the wall times of all three (each includes the lookup count
    that picks the tier)."""
    from interference_spark.pipeline.lm import (
        _DSIR_BROADCAST_MAX_ROWS,
        dsir_log_weights,
        train_bigram_lm,
    )

    docs = _vocab_docs(spark, n_docs, vocab).persist()
    docs.count()
    t_lm = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    r_lm = train_bigram_lm(docs)
    merged_rows = (
        t_lm.bigram_counts.withColumnRenamed("cw", "cwt")
        .join(
            r_lm.bigram_counts.withColumnRenamed("cw", "cwr"),
            ["c", "w"],
            "full_outer",
        )
        .count()
    )
    out: dict = {
        "n_docs": n_docs,
        "vocab": vocab,
        "merged_bigram_rows": merged_rows,
        "auto_threshold": _DSIR_BROADCAST_MAX_ROWS,
        "trips_cutover": merged_rows > _DSIR_BROADCAST_MAX_ROWS,
    }
    sums = {}
    for label, tier in [
        ("auto", None),  # the lookup count decides
        ("forced_broadcast", "broadcast"),
        ("forced_shuffled", "shuffled"),
    ]:
        t0 = time.perf_counter()
        with _forced_dsir_tier(tier):
            df = dsir_log_weights(docs, t_lm, r_lm)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("logw_micronats").alias("s"),
            # pmod before summing: raw xxhash64 values span the full
            # int64 range and a 300k-row sum overflows under ANSI
            F.sum(
                F.pmod(
                    F.xxhash64("doc_id", "n_bigrams", "logw_micronats"),
                    F.lit(10**12),
                )
            ).alias("h"),
        ).first()
        out[label] = {
            "sec": round(time.perf_counter() - t0, 2),
            "rows": row["n"],
        }
        sums[label] = (row["n"], row["s"], row["h"])
        print(f"dsir_auto {label}: {out[label]}", flush=True)
    out["bit_identical"] = len(set(sums.values())) == 1
    docs.unpersist()
    return out


def probe_unigram(spark, sizes: list[int]) -> dict:
    """Unigram-LM tokenizer training end-to-end (eager hard-EM loop) at
    growing corpus sizes — the word-table shape means cost is driven by
    DISTINCT words (capped by the 50k probe vocabulary), so growth past
    vocabulary saturation should flatten toward the word-count scan."""
    from interference_spark.pipeline.unigram import unigram_train

    out: dict = {}
    for n in sizes:
        t0 = time.perf_counter()
        pieces, _seg = unigram_train(_rich_docs(spark, n), iters=2)
        n_pieces = pieces.count()
        out[n] = {
            "sec": round(time.perf_counter() - t0, 2),
            "pieces": int(n_pieces),
        }
        print(f"unigram_train {n}: {out[n]}", flush=True)
        spark.catalog.clearCache()
        # release the PREVIOUS size's localCheckpoint blocks before the
        # next point: ContextCleaner frees them only after a GC notices
        # the dropped references, and carried blocks measured a phantom
        # 3.4x on the next point (278 s vs 82 s clean at 1M docs)
        del pieces, _seg
        spark.sparkContext._jvm.System.gc()
    return out


def probe_wordpiece(spark, sizes: list[int]) -> dict:
    """WordPiece training (8 likelihood-gain merges) + MaxMatch encode
    of the trained word table at growing corpus sizes — like BPE/unigram
    the corpus cost is the ONE word-table groupBy scan; everything after
    (symbol counts, pair counts, argmax, folds, encode grid) is bounded
    by DISTINCT words (capped by the 50k probe vocabulary), so the curve
    should flatten toward the scan past vocabulary saturation."""
    from interference_spark.pipeline.wordpiece import (
        maxmatch_encode,
        wordpiece_train,
        wordpiece_vocab,
    )

    out: dict = {}
    for n in sizes:
        docs = _rich_docs(spark, n)
        t0 = time.perf_counter()
        merges, words = wordpiece_train(docs, n_merges=8)
        t_train = time.perf_counter() - t0
        # vocab from the TRAINED word table — no second corpus scan
        # (recorded r8 curve predates this; it paid one extra scan)
        vocab = wordpiece_vocab(words, merges)
        enc = maxmatch_encode(
            words.select("word", "freq"), vocab, check_reachability=False
        )
        enc.write.format("noop").mode("overwrite").save()
        out[n] = {
            "train_sec": round(t_train, 2),
            "total_sec": round(time.perf_counter() - t0, 2),
            "merges": merges.count(),
        }
        print(f"wordpiece {n}: {out[n]}", flush=True)
        # unigram-probe lesson: drop checkpoint references + GC between
        # sizes or carried blocks distort the next point
        del merges, words, vocab, enc
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    return out


def probe_backoff(spark, sizes: list[int]) -> dict:
    """Stupid-backoff trigram LM end-to-end (train counts on the even
    half, score the whole corpus through the 5-way LEFT-join chain):
    training key spaces are the Zipf-truncated n-gram vocabularies, so
    past vocabulary saturation the curve should track the two corpus
    scans (count + score) linearly."""
    from interference_spark.pipeline.lm import backoff_score, train_backoff_lm

    # NOTE (round-8 measurement): a shuffle_hash-hinted variant of the
    # three corpus-growing joins was probed head-to-head at 10M docs and
    # HARD-FAILED with SparkOutOfMemoryError ("not enough memory to
    # build hash map") — a shuffled-hash build side cannot spill, and
    # the trigram-count table per partition does not fit.  Default SMJ
    # spills and lands on the ~n·log n band; the knob was removed from
    # backoff_score as an attractive nuisance.
    out: dict = {}
    for n in sizes:
        docs = _rich_docs(spark, n).persist()
        docs.count()
        t0 = time.perf_counter()
        lm = train_backoff_lm(docs.filter(F.col("doc_id") % 2 == 0))
        r = backoff_score(docs, lm).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("nll_micronats").alias("s"),
            F.sum("n_oov").alias("o"),
        ).first()
        out[n] = {
            "sec": round(time.perf_counter() - t0, 2),
            "checksum": [int(r["n"]), int(r["s"]), int(r["o"])],
        }
        print(f"backoff {n}: {out[n]}", flush=True)
        docs.unpersist()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    return out


def probe_kn(spark, sizes: list[int]) -> dict:
    """Interpolated Kneser-Ney trigram end-to-end (VERDICT r10 ask #7):
    train the six count tables on the even half, score the WHOLE corpus
    through the six-join chain.  Same both-sides-grow family as
    ``backoff_score`` (measured ~n·log n there) — this row confirms the
    sort-bound shape and that six joins don't double backoff's constant
    (they attach to ONE exploded trigram stream; Catalyst chains the
    sort-merge joins on shared key prefixes where possible and the
    count tables are vocabulary-sized, saturating while the stream
    grows)."""
    from interference_spark.pipeline.lm import kn_score, train_kn_lm

    out: dict = {}
    for n in sizes:
        docs = _rich_docs(spark, n).persist()
        docs.count()
        t0 = time.perf_counter()
        lm = train_kn_lm(docs.filter(F.col("doc_id") % 2 == 0))
        r = kn_score(docs, lm).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("nll_micronats").alias("s"),
            F.sum("n_oov").alias("o"),
        ).first()
        out[n] = {
            "sec": round(time.perf_counter() - t0, 2),
            "checksum": [int(r["n"]), int(r["s"]), int(r["o"])],
        }
        print(f"kn {n}: {out[n]}", flush=True)
        docs.unpersist()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    return out


def _stage_metric_totals(spark) -> dict:
    """Cumulative completed-stage executor metrics from the local UI
    REST API (requires spark.ui.enabled=true in this session): diff the
    totals around a run to attribute spill/shuffle volume to it."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    if not base:
        return {}
    with urllib.request.urlopen(f"{base}/api/v1/applications") as fh:
        app_id = json.load(fh)[0]["id"]
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app_id}/stages?status=complete"
    ) as fh:
        stages = json.load(fh)
    tot = dict.fromkeys(
        ("disk_spill", "mem_spill", "shuffle_write", "shuffle_read"), 0
    )
    for s in stages:
        tot["disk_spill"] += s.get("diskBytesSpilled", 0)
        tot["mem_spill"] += s.get("memoryBytesSpilled", 0)
        tot["shuffle_write"] += s.get("shuffleWriteBytes", 0)
        tot["shuffle_read"] += s.get("shuffleReadBytes", 0)
    return tot


def probe_dsir_spill(spark, n_docs: int, vocab: int) -> dict:
    """DSIR shuffle-tier A/B (VERDICT r10 ask #8): the hashed-key SMJ
    tier's "3-4x smaller sorts" claim, measured.  Forces both variants
    onto the sort-merge shuffle path (auto-broadcast disabled so AQE
    can't silently broadcast the lookup) and diffs completed-stage
    spill/shuffle bytes around each run:

    - ``string_smj``: the pre-r10 shuffle shape — the exploded bigram
      stream joins the merged lookups on the raw STRING keys
      ``(c, w)`` / ``(c)``, so the stream-side SMJ sorts carry
      (doc_id, c, w) string rows.  Replicated probe-locally (the
      engine no longer ships it).
    - ``hashed_smj``: the shipped shuffle tier (``dsir_log_weights``
      under ``_forced_dsir_tier("shuffled")``) — both join keys
      pre-hashed to one xxhash64 long each, 16 B sorted stream rows.

    Records wall + shuffle-write + spill for each and asserts the
    integer micronat weights are bit-identical across the two plans."""
    from interference_spark.pipeline.lm import (
        _MICRO,
        dsir_log_weights,
        train_bigram_lm,
    )

    import shutil
    import tempfile

    docs = _vocab_docs(spark, n_docs, vocab).persist()
    docs.count()
    t_lm = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    r_lm = train_bigram_lm(docs)
    # materialize the four count tables once (parquet round-trip, the
    # production hand-off) so both variants pay zero training cost
    # inside their measured window — localCheckpoint was the first
    # shape here and OOM'd the 48 GB heap at a 156M-row table, the
    # exact deserialized-object failure the funnel decade row records
    tmp = tempfile.mkdtemp(prefix="ifs_dsir_spill_")
    for tag, lm in (("t", t_lm), ("r", r_lm)):
        for field in ("bigram_counts", "context_counts", "vocab"):
            p = os.path.join(tmp, f"{tag}_{field}.parquet")
            getattr(lm, field).write.mode("overwrite").parquet(p)
            setattr(lm, field, spark.read.parquet(p))
    bc = t_lm.bigram_counts.withColumnRenamed("cw", "cwt").join(
        r_lm.bigram_counts.withColumnRenamed("cw", "cwr"),
        ["c", "w"],
        "full_outer",
    )
    cc = t_lm.context_counts.withColumnRenamed("cc", "cct").join(
        r_lm.context_counts.withColumnRenamed("cc", "ccr"),
        ["c"],
        "full_outer",
    )
    out: dict = {"n_docs": n_docs, "vocab": vocab, "lookup_rows": bc.count()}

    def _hashed_smj():
        # the operator counts the lookup before it plans, so this
        # variant's wall time includes one lookup-count job
        with _forced_dsir_tier("shuffled"):
            return dsir_log_weights(docs, t_lm, r_lm)

    def _string_smj():
        # pre-6e881bd shuffle plan, replicated verbatim: string join
        # keys end-to-end (see git 6e881bd~1:interference_spark/
        # pipeline/lm.py)
        from interference_spark.pipeline.lm import _bigrams

        sb = _bigrams(docs, "text", ["doc_id"])
        j = (
            sb.join(bc, ["c", "w"], "left")
            .join(cc, ["c"], "left")
            .crossJoin(
                F.broadcast(t_lm.vocab.withColumnRenamed("v", "vt"))
            )
            .crossJoin(
                F.broadcast(r_lm.vocab.withColumnRenamed("v", "vr"))
            )
        )

        def _logq(cw, ccol, v):
            p = F.when(
                F.col(ccol).isNull(),
                F.lit(1.0) / F.col(v).cast("double"),
            ).otherwise(
                (F.coalesce(F.col(cw), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col(ccol) + F.col(v)).cast("double")
            )
            return F.floor(F.log(p) * F.lit(_MICRO)).cast("long")

        lw = _logq("cwt", "cct", "vt") - _logq("cwr", "ccr", "vr")
        return (
            j.select(F.col("doc_id"), lw.alias("lw"))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_bigrams"),
                F.sum("lw").cast("long").alias("logw_micronats"),
            )
        )

    sums = {}
    with_conf = [
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
        ("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"),
    ]
    saved = {k: spark.conf.get(k, None) for k, _ in with_conf}
    for k, v in with_conf:
        spark.conf.set(k, v)
    try:
        # ALTERNATE the variants (S,H,S,H): a single S-then-H ordering
        # measured the SECOND variant spilling 3 GB where the first
        # spilled zero — execution-memory aging in a long-lived JVM
        # biases whichever plan runs later, so each variant gets a
        # first-slot and a second-slot run and the record keeps both
        for run_no, (label, make) in enumerate(
            2
            * [
                ("string_smj", _string_smj),
                ("hashed_smj", _hashed_smj),
            ]
        ):
            before = _stage_metric_totals(spark)
            t0 = time.perf_counter()
            row = (
                make()
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("logw_micronats").alias("s"),
                    F.sum(
                        F.pmod(
                            F.xxhash64(
                                "doc_id", "n_bigrams", "logw_micronats"
                            ),
                            F.lit(10**12),
                        )
                    ).alias("h"),
                )
                .first()
            )
            wall = round(time.perf_counter() - t0, 2)
            after = _stage_metric_totals(spark)
            rec = {
                "sec": wall,
                **{
                    k: after.get(k, 0) - before.get(k, 0)
                    for k in ("disk_spill", "mem_spill", "shuffle_write")
                },
            }
            out.setdefault(label, []).append(rec)
            sums[f"{label}:{run_no}"] = (row["n"], row["s"], row["h"])
            print(f"dsir_spill {label} run {run_no}: {rec}", flush=True)
            spark.sparkContext._jvm.System.gc()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    out["bit_identical"] = len(set(sums.values())) == 1
    docs.unpersist()
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def probe_ppl_buckets(spark, sizes: list[int]) -> dict:
    """CCNet tercile bucketing end-to-end (bigram-LM scoring + the
    per-language ntile window): the window adds one per-language sort
    over the scored docs — with ~5 synthetic languages the sort is
    5-way parallel and the scoring joins should dominate."""
    from interference_spark.pipeline.lm import (
        perplexity_buckets,
        train_bigram_lm,
    )

    langs = ["de", "en", "es", "fr", "zh"]
    out: dict = {}
    for n in sizes:
        docs = (
            _rich_docs(spark, n)
            .withColumn(
                "lang",
                F.element_at(
                    F.array(*[F.lit(c) for c in langs]),
                    (F.col("doc_id") % 5 + 1).cast("int"),
                ),
            )
            .persist()
        )
        docs.count()
        t0 = time.perf_counter()
        lm = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
        perplexity_buckets(docs.filter(F.col("doc_id") % 2 == 1), lm).write.format(
            "noop"
        ).mode("overwrite").save()
        out[n] = {"sec": round(time.perf_counter() - t0, 2)}
        print(f"ppl_buckets {n}: {out[n]}", flush=True)
        docs.unpersist()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    return out


def probe_langid_mc(spark, sizes: list[int]) -> dict:
    """Multiclass hash-kernel language ID end-to-end (3 GD steps for 5
    heads + full-corpus scoring): per step ONE moment aggregate, so the
    curve should track the featurize scan linearly."""
    from interference_spark.pipeline.text import hash_kernel_multiclass

    classes = ["de", "en", "es", "fr", "zh"]
    out: dict = {}
    for n in sizes:
        docs = _rich_docs(spark, n).withColumn(
            "lang",
            F.element_at(
                F.array(*[F.lit(c) for c in classes]),
                (F.col("doc_id") % 5 + 1).cast("int"),
            ),
        ).persist()
        docs.count()
        t0 = time.perf_counter()
        _w, pred = hash_kernel_multiclass(
            docs.filter(F.col("doc_id") % 2 == 0), docs,
            classes=classes, d=8, iters=3,
        )
        pred.write.format("noop").mode("overwrite").save()
        out[n] = {"sec": round(time.perf_counter() - t0, 2)}
        print(f"langid_mc {n}: {out[n]}", flush=True)
        docs.unpersist()
        spark.catalog.clearCache()
    return out


def probe_byte_bpe(spark, sizes: list[int]) -> dict:
    """Byte-level BPE end-to-end (r9): train 8 merges over the GPT-2
    pre-token byte alphabet, then encode the full corpus.  Training
    state is the DISTINCT pre-token table (~2x the 50k word vocab here
    — constant in corpus size), so train time should flatten while
    encode tracks the corpus linearly."""
    from interference_spark.pipeline.byte_bpe import (
        byte_bpe_encode,
        byte_bpe_train,
        byte_bpe_vocab,
    )

    out: dict = {}
    for n in sizes:
        docs = _rich_docs(spark, n).persist()
        docs.count()
        t0 = time.perf_counter()
        merges, words = byte_bpe_train(docs, n_merges=8)
        t_train = time.perf_counter() - t0
        t0 = time.perf_counter()
        byte_bpe_encode(docs, words, byte_bpe_vocab(merges)).write.format(
            "noop"
        ).mode("overwrite").save()
        t_enc = time.perf_counter() - t0
        out[n] = {"train_sec": round(t_train, 2), "encode_sec": round(t_enc, 2)}
        print(f"byte_bpe {n}: {out[n]}", flush=True)
        docs.unpersist()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    return out


def probe_ppl_cutoffs(spark, sizes: list[int]) -> dict:
    """Dominant-language tercile probe (r9): 90% of docs share ONE
    language — the shape where `perplexity_buckets`' per-language ntile
    sort degenerates to one giant partition's sort.  Times the exact
    ntile variant vs the sketch-cutoff variant
    (`perplexity_bucket_cutoffs`) on the same skewed mix; the sketch
    path's shuffle carries only languages x 256 histogram rows."""
    from interference_spark.pipeline.lm import (
        perplexity_bucket_cutoffs,
        perplexity_buckets,
        train_bigram_lm,
    )

    langs = ["en", "de", "es", "fr", "zh"]
    out: dict = {}
    for n in sizes:
        # hash-based selectors, NOT doc_id residues: the train/score
        # split is doc_id parity, and a % 10 == 9 minority selector is
        # always ODD — the scored half would be 80% dominant with only
        # 2 of 4 minority languages present (review r9); xxhash keeps
        # the 90/10 mix and all five languages parity-independent
        docs = (
            _rich_docs(spark, n)
            .withColumn(
                "lang",
                F.when(
                    F.pmod(F.xxhash64(F.col("doc_id") * 7919), F.lit(10))
                    < 9,
                    F.lit("en"),
                ).otherwise(
                    F.element_at(
                        F.array(*[F.lit(c) for c in langs[1:]]),
                        (
                            F.pmod(
                                F.xxhash64(F.col("doc_id") * 104729),
                                F.lit(4),
                            )
                            + 1
                        ).cast("int"),
                    )
                ),
            )
            .persist()
        )
        docs.count()
        lm = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
        res = {}
        for tag, fn in (
            ("ntile", lambda d: perplexity_buckets(d, lm)),
            (
                "sketch",
                lambda d: perplexity_bucket_cutoffs(d, lm, lo=2.0, hi=16.0),
            ),
        ):
            t0 = time.perf_counter()
            fn(docs.filter(F.col("doc_id") % 2 == 1)).write.format(
                "noop"
            ).mode("overwrite").save()
            res[f"{tag}_sec"] = round(time.perf_counter() - t0, 2)
        out[n] = res
        print(f"ppl_cutoffs {n}: {res}", flush=True)
        docs.unpersist()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    return out


def probe_langid_mc_sparse(spark, n: int, ds: list[int]) -> dict:
    """Sparse multiclass plan vs bucket count d (r9, the binary
    classifier's r7 probe repeated for K heads): fixed corpus, growing
    d — per-step cost must stay ~flat because featurization, folds, and
    the groupBy(cls, bucket) moments never materialize d, only the
    weight arrays do."""
    from interference_spark.pipeline.text import _hk_argmax, _hk_sparse

    classes = ["de", "en", "es", "fr", "zh"]
    docs = _rich_docs(spark, n).withColumn(
        "lang",
        F.element_at(
            F.array(*[F.lit(c) for c in classes]),
            (F.col("doc_id") % 5 + 1).cast("int"),
        ),
    ).persist()
    docs.count()
    out: dict = {}
    for d in ds:
        t0 = time.perf_counter()
        # the sparse core directly: the classifier takes dense at d <= 64
        _w, scored = _hk_sparse(
            docs.filter(F.col("doc_id") % 2 == 0), docs, classes,
            d=d, iters=3,
        )
        pred = _hk_argmax(scored, classes, "doc_id")
        pred.write.format("noop").mode("overwrite").save()
        out[d] = {"sec": round(time.perf_counter() - t0, 2)}
        print(f"langid_mc_sparse d={d}: {out[d]}", flush=True)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    docs.unpersist()
    return out


def _funnel_minhash(spark, sf_dir: str):
    """The curation funnel's PRODUCTION composition: identical C4 →
    Gopher → near-dup-cluster → DSIR staging to the
    `corpus_curation_funnel_v2` entry, with the near-dup stage swapped
    from exact char-trigram Jaccard to banded MinHash-LSH — the
    bounded-alphabet-proof detector a 100 TB run uses.  This is the md5
    MinHash composition the `corpus_curation_funnel_v3` entry checks
    against its DuckDB oracle; the probe times it end to end."""
    from interference_spark import inventory
    from interference_spark.pipeline.dedup import (
        dedup_clusters,
        minhash_dedup_pairs,
    )
    from interference_spark.pipeline.lm import (
        dsir_log_weights,
        train_bigram_lm,
    )
    from interference_spark.pipeline.text import c4_clean, gopher_quality_flags

    e = inventory.engine_for(spark, sf_dir)
    docs = e.table("documents").select("doc_id", "lang", "text")
    c4 = c4_clean(docs, min_kept_lines=0).select(
        "doc_id", F.col("keep_doc").alias("c4_ok")
    )
    gf = gopher_quality_flags(
        docs.join(c4.filter("c4_ok"), "doc_id", "left_semi")
    )
    gop = gf.select(
        "doc_id",
        (
            F.col("r_word_count")
            & F.col("r_mean_word_len")
            & F.col("r_hash_ratio")
            & F.col("r_ellipsis_ratio")
            & F.col("r_bullet_lines")
            & F.col("r_ellipsis_lines")
            & F.col("r_alpha_words")
        ).alias("gopher_ok"),
    )
    s12 = (
        docs.join(c4.filter("c4_ok"), "doc_id", "left_semi")
        .join(gop.filter("gopher_ok"), "doc_id", "left_semi")
        .select("doc_id", "lang", "text")
    )
    pairs = minhash_dedup_pairs(s12, threshold=0.8).select("id_a", "id_b")
    labels = dedup_clusters(s12, pairs)
    s123 = s12.join(
        labels.filter("cluster_id = doc_id").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    t_lm = train_bigram_lm(s123.filter("lang = 'en'"))
    r_lm = train_bigram_lm(s123)
    return (
        dsir_log_weights(s123, t_lm, r_lm)
        .orderBy(F.col("logw_micronats").desc(), F.col("doc_id").asc())
        .limit(100)
    )


def _capstone_docs(spark, n: int, tmp: str, langs: list[str]) -> None:
    """Write the capstone probe corpus (see probe_capstones for the
    shape rationale) to tmp/documents.parquet."""
    uniq = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(10)),
            lambda j: F.concat(
                F.lit("u"),
                F.conv(
                    F.pmod(
                        F.xxhash64(F.col("doc_id") * 977 + j),
                        F.lit(2**52),
                    ).cast("string"),
                    10,
                    36,
                ),
            ),
        ),
        " ",
    )
    docs = _rich_docs(spark, n, doc_words=50).withColumn(
        "text", F.concat("text", F.lit(" "), uniq)
    )
    docs = docs.select(
        "doc_id",
        "text",
        F.element_at(
            F.array(*[F.lit(c) for c in langs]),
            (F.col("doc_id") % 5 + 1).cast("int"),
        ).alias("lang"),
        F.lit("probe").alias("source"),
        F.length("text").alias("n_chars"),
    )
    docs.write.parquet(os.path.join(tmp, "documents.parquet"))


def _funnel_minhash_staged(spark, sf_dir: str) -> dict:
    """The production funnel run the way a production pipeline actually
    runs it at scale: as STAGED JOBS with materialization barriers, not
    one lazy plan.  The r10 10M-doc probe forced this shape: a single
    noop-write job retains EVERY stage's shuffle files until the job
    ends (minhash bands + cluster iterations + two LM trainings + the
    DSIR joins ≈ the sum of all stage volumes live at once), measured
    exhausting this host's ~80 GB spill disk twice — first at the DSIR
    sort (fixed by hash-narrowed join keys, which moved the wall 5×
    further into the plan), then again near the end on CUMULATIVE
    volume.  localCheckpoint barriers cut lineage so completed jobs'
    shuffle files become collectable, and the explicit gc() between
    stages collects them; per-stage wall-clock comes back as the
    breakdown.  Same operators, same results — only the materialization
    points differ."""
    from interference_spark import inventory
    from interference_spark.pipeline.dedup import (
        dedup_clusters,
        minhash_dedup_pairs,
    )
    from interference_spark.pipeline.lm import (
        dsir_log_weights,
        train_bigram_lm,
    )
    from interference_spark.pipeline.text import c4_clean, gopher_quality_flags

    res: dict = {}
    t_all = time.perf_counter()

    def tick(name, t0):
        res[name] = round(time.perf_counter() - t0, 2)
        print(f"  staged funnel stage {name}: {res[name]} s", flush=True)
        # the barrier only frees a completed stage's shuffle files if
        # nothing references its DataFrames anymore: callers del their
        # intermediates BEFORE tick, then the driver-side gc lets the
        # ContextCleaner collect the now-unreachable shuffle
        # dependencies (measured: keeping `pairs`/`labels` in scope
        # retained ~40 GB of near-dup shuffle files into the scoring
        # stage and exhausted the disk)
        import gc as _pygc

        _pygc.collect()
        # double GC with a drain pause: the ContextCleaner deletes
        # shuffle/checkpoint files ASYNCHRONOUSLY off a weak-ref queue,
        # so one gc right before the next stage starts races the next
        # stage's spill growth for the same disk (measured: ~40 GB of
        # freed-but-not-yet-unlinked stage files still on disk when the
        # scoring stage began)
        spark.sparkContext._jvm.System.gc()
        time.sleep(20)
        spark.sparkContext._jvm.System.gc()
        time.sleep(10)

    e = inventory.engine_for(spark, sf_dir)
    docs = e.table("documents").select("doc_id", "lang", "text")
    t0 = time.perf_counter()
    c4 = c4_clean(docs, min_kept_lines=0).select(
        "doc_id", F.col("keep_doc").alias("c4_ok")
    )
    gf = gopher_quality_flags(
        docs.join(c4.filter("c4_ok"), "doc_id", "left_semi")
    )
    gop = gf.select(
        "doc_id",
        (
            F.col("r_word_count")
            & F.col("r_mean_word_len")
            & F.col("r_hash_ratio")
            & F.col("r_ellipsis_ratio")
            & F.col("r_bullet_lines")
            & F.col("r_ellipsis_lines")
            & F.col("r_alpha_words")
        ).alias("gopher_ok"),
    )
    s12 = (
        docs.join(c4.filter("c4_ok"), "doc_id", "left_semi")
        .join(gop.filter("gopher_ok"), "doc_id", "left_semi")
        .select("doc_id", "lang", "text")
        .localCheckpoint(eager=True)
    )
    del docs, c4, gf, gop
    tick("rules_s12", t0)
    t0 = time.perf_counter()
    pairs = minhash_dedup_pairs(s12, threshold=0.8).select("id_a", "id_b")
    labels = dedup_clusters(s12, pairs)
    s123 = (
        s12.join(
            labels.filter("cluster_id = doc_id").select("doc_id"),
            "doc_id",
            "left_semi",
        )
        .localCheckpoint(eager=True)
    )
    del s12, pairs, labels
    tick("near_dup_s123", t0)
    t0 = time.perf_counter()
    t_lm = train_bigram_lm(s123.filter("lang = 'en'"))
    r_lm = train_bigram_lm(s123)
    # materialize the trained models to COMPRESSED PARQUET and read them
    # back — what a production pipeline does with model tables.  The two
    # measured alternatives both die at 10M docs on a disk-bounded
    # host: localCheckpoint stores 110M-row string tables as
    # deserialized JVM objects (48 GB heap OOM), and count()-style
    # shuffle materialization RETAINS the training exchanges' ~30-40 GB
    # of shuffle files for ReuseExchange, which then coexist with the
    # scoring job's merge sorts (disk exhaustion at the dsir stage).
    # Parquet+zstd holds the same tables in ~2-4 GB, cuts lineage, and
    # lets the gc() below actually free the training shuffles.
    for tag, lm in (("t", t_lm), ("r", r_lm)):
        for field in ("bigram_counts", "context_counts"):
            p = os.path.join(sf_dir, f"_lm_{tag}_{field}.parquet")
            getattr(lm, field).write.mode("overwrite").parquet(p)
            setattr(lm, field, spark.read.parquet(p))
    tick("lm_train", t0)
    t0 = time.perf_counter()
    (
        dsir_log_weights(s123, t_lm, r_lm)
        .orderBy(F.col("logw_micronats").desc(), F.col("doc_id").asc())
        .limit(100)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    tick("dsir_select", t0)
    res["total"] = round(time.perf_counter() - t_all, 2)
    return res


def probe_funnel_prepare(spark, n: int, outdir: str) -> dict:
    """Two-process decomposition, phase A (the r10 10M row's final
    shape): rules → near-dup → LM training, with s123 and the model
    tables materialized to parquet under ``outdir``, then the JVM EXITS.
    Measured necessity: within one long-lived local JVM, each stage's
    exchange files stayed on disk into the next stage even after
    reference drops and cleaner drains (~37 GB retained), and the
    scoring stage needs ~30 GB of its own — process death is the one
    cleaner that always runs, and separate applications per pipeline
    phase is how a production run ships this anyway."""
    from interference_spark import inventory
    from interference_spark.pipeline.dedup import (
        dedup_clusters,
        minhash_dedup_pairs,
    )
    from interference_spark.pipeline.lm import train_bigram_lm
    from interference_spark.pipeline.text import c4_clean, gopher_quality_flags

    langs = ["de", "en", "es", "fr", "zh"]
    os.makedirs(outdir, exist_ok=True)
    res: dict = {}
    t0 = time.perf_counter()
    _capstone_docs(spark, n, outdir, langs)
    res["gen"] = round(time.perf_counter() - t0, 2)
    e = inventory.engine_for(spark, outdir)
    docs = e.table("documents").select("doc_id", "lang", "text")
    t0 = time.perf_counter()
    c4 = c4_clean(docs, min_kept_lines=0).select(
        "doc_id", F.col("keep_doc").alias("c4_ok")
    )
    gf = gopher_quality_flags(
        docs.join(c4.filter("c4_ok"), "doc_id", "left_semi")
    )
    gop = gf.select(
        "doc_id",
        (
            F.col("r_word_count")
            & F.col("r_mean_word_len")
            & F.col("r_hash_ratio")
            & F.col("r_ellipsis_ratio")
            & F.col("r_bullet_lines")
            & F.col("r_ellipsis_lines")
            & F.col("r_alpha_words")
        ).alias("gopher_ok"),
    )
    s12 = (
        docs.join(c4.filter("c4_ok"), "doc_id", "left_semi")
        .join(gop.filter("gopher_ok"), "doc_id", "left_semi")
        .select("doc_id", "lang", "text")
        .localCheckpoint(eager=True)
    )
    res["rules_s12"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    pairs = minhash_dedup_pairs(s12, threshold=0.8).select("id_a", "id_b")
    labels = dedup_clusters(s12, pairs)
    s123 = s12.join(
        labels.filter("cluster_id = doc_id").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    s123.write.mode("overwrite").parquet(os.path.join(outdir, "_s123.parquet"))
    s123 = spark.read.parquet(os.path.join(outdir, "_s123.parquet"))
    res["near_dup_s123"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    t_lm = train_bigram_lm(s123.filter("lang = 'en'"))
    r_lm = train_bigram_lm(s123)
    for tag, lm in (("t", t_lm), ("r", r_lm)):
        for field in ("bigram_counts", "context_counts"):
            getattr(lm, field).write.mode("overwrite").parquet(
                os.path.join(outdir, f"_lm_{tag}_{field}.parquet")
            )
        lm.vocab.write.mode("overwrite").parquet(
            os.path.join(outdir, f"_lm_{tag}_vocab.parquet")
        )
    res["lm_train"] = round(time.perf_counter() - t0, 2)
    print(json.dumps({"funnel_prepare": {n: res}}), flush=True)
    return res


def probe_funnel_score(spark, outdir: str) -> dict:
    """Two-process decomposition, phase B: DSIR scoring + top-100 from
    the phase-A parquet artifacts, in a fresh JVM whose disk starts
    empty."""
    from interference_spark.pipeline.lm import BigramLM, dsir_log_weights

    def load(tag: str) -> BigramLM:
        return BigramLM(
            bigram_counts=spark.read.parquet(
                os.path.join(outdir, f"_lm_{tag}_bigram_counts.parquet")
            ),
            context_counts=spark.read.parquet(
                os.path.join(outdir, f"_lm_{tag}_context_counts.parquet")
            ),
            vocab=spark.read.parquet(
                os.path.join(outdir, f"_lm_{tag}_vocab.parquet")
            ),
        )

    s123 = spark.read.parquet(os.path.join(outdir, "_s123.parquet"))
    t0 = time.perf_counter()
    (
        dsir_log_weights(s123, load("t"), load("r"))
        .orderBy(F.col("logw_micronats").desc(), F.col("doc_id").asc())
        .limit(100)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    res = {"dsir_select": round(time.perf_counter() - t0, 2)}
    print(json.dumps({"funnel_score": res}), flush=True)
    return res


def probe_funnel_minhash(spark, sizes: list[int], staged: bool = False) -> dict:
    """The r10 decade-extension probe (VERDICT r9 ask #5): ONLY the
    production funnel composition (MinHash-LSH near-dup), timed end-to-
    end per size — the fertility capstone is excluded so a 10M-doc row
    stays a single-entry measurement.  ``staged`` runs the
    checkpoint-barrier shape (`_funnel_minhash_staged`) the 10M row
    requires on a disk-bounded single host."""
    import shutil
    import tempfile

    langs = ["de", "en", "es", "fr", "zh"]
    out: dict = {}
    for n in sizes:
        tmp = tempfile.mkdtemp(prefix="ifs_funnel10m_")
        try:
            _capstone_docs(spark, n, tmp, langs)
            if staged:
                out[n] = _funnel_minhash_staged(spark, tmp)
                print(
                    f"capstone funnel_minhash_variant (staged) @ {n}: "
                    f"{out[n]['total']} s",
                    flush=True,
                )
            else:
                t0 = time.perf_counter()
                _funnel_minhash(spark, tmp).write.format("noop").mode(
                    "overwrite"
                ).save()
                out[n] = round(time.perf_counter() - t0, 2)
                print(
                    f"capstone funnel_minhash_variant @ {n}: {out[n]} s",
                    flush=True,
                )
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def probe_capstones(spark, sizes: list[int]) -> dict:
    """END-TO-END capstone rows (r9, VERDICT r8 ask #7): run the two
    composition entries — `tokenizer_fertility_report` (four tokenizer
    trainings + fertility joins) and `corpus_curation_funnel_v2` (C4 →
    Gopher → near-dup clustering → DSIR) — against a synthetic
    documents.parquet of n docs, timing the WHOLE entry, not its
    stages.  The synthetic table mirrors the testdata schema; entries
    are called exactly as the driver calls them."""
    import shutil
    import tempfile

    from interference_spark import inventory

    langs = ["de", "en", "es", "fr", "zh"]
    out: dict = {}
    for n in sizes:
        tmp = tempfile.mkdtemp(prefix="ifs_capstone_")
        try:
            # 60 words/doc: inside Gopher's 50..100k word band, so the
            # funnel's rule stages pass a realistic survivor share
            # (40-word docs fail the minimum and blank every later
            # stage).  Ten of the 60 are DOC-UNIQUE tokens: uniform
            # random text is the worst case for the funnel's
            # prefix-filtered Jaccard stage (every char-trigram has a
            # mid-size posting list, the 26^3-bounded alphabet makes
            # candidate sets quadratic — the round-6 probe caveat);
            # real corpora are Zipfian with per-doc rare grams (names,
            # ids, numbers), which is exactly what the prefix filter
            # prunes on, so the probe corpus carries enough unique
            # material (~100 rare trigrams ≥ the ~|g|/5 prefix) to make
            # each doc's prefix grams rare.
            _capstone_docs(spark, n, tmp, langs)
            res = {}
            names = ["tokenizer_fertility_report"]
            # the ENTRY funnel's near-dup stage is exact char-TRIGRAM
            # Jaccard with full-array verification (oracle-replayable
            # at gate SFs).  On synthetic/random text the trigram
            # alphabet is bounded (26^3 pool + 36^3 unique tokens), so
            # posting lists grow linearly with docs, candidate pairs
            # quadratically, and the verify join attaches BOTH full
            # gram arrays (~4 KB each) to every candidate — measured:
            # 100k docs fill 40+ GB, 30k docs still exhaust 31 GB of
            # spill disk.  The entry shape is gate-corpus-sized by
            # construction; probe it only there, and probe the
            # PRODUCTION composition below (same stages, MinHash-LSH
            # near-dup — posting lists bounded by banding, signatures
            # never enter the band shuffle) at the scale sizes.
            if n <= 3_000:
                names.append("corpus_curation_funnel_v2")
            for name in names:
                t0 = time.perf_counter()
                inventory.QUERIES[name](spark, tmp).write.format(
                    "noop"
                ).mode("overwrite").save()
                res[name] = round(time.perf_counter() - t0, 2)
                print(f"capstone {name} @ {n}: {res[name]} s", flush=True)
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            _funnel_minhash(spark, tmp).write.format("noop").mode(
                "overwrite"
            ).save()
            res["funnel_minhash_variant"] = round(
                time.perf_counter() - t0, 2
            )
            print(
                f"capstone funnel_minhash_variant @ {n}: "
                f"{res['funnel_minhash_variant']} s",
                flush=True,
            )
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            out[n] = res
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def main() -> None:
    from interference_spark import build_spark

    args = sys.argv[1:]
    only: set[str] | None = None
    if args and args[0] == "--langid-mc-sparse":  # [n [d1,d2,...]]
        n = int(float(args[1])) if len(args) > 1 else 200_000
        ds = (
            [int(float(d)) for d in args[2].split(",")]
            if len(args) > 2
            else [8, 1024, 262144]
        )
        spark = build_spark(
            app_name="scaling-probe-r9",
            master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]",
            shuffle_partitions=int(
                os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
            ),
            extra_conf={"spark.driver.memory": "48g"},
        )
        print(json.dumps({"langid_mc_sparse": probe_langid_mc_sparse(spark, n, ds)}))
        spark.stop()
        return
    if args and args[0] in (
        "--unigram",
        "--langid-mc",
        "--wordpiece",
        "--backoff",
        "--ppl-buckets",
        "--byte-bpe",
        "--ppl-cutoffs",
        "--capstones",
        "--funnel-minhash",
        "--funnel-minhash-staged",
        "--kn",
    ):  # [sizes...]
        sizes = (
            [int(float(s)) for s in args[1].split(",")]
            if len(args) > 1
            else [100_000, 1_000_000]
        )
        spark = build_spark(
            app_name="scaling-probe-r8",
            master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]",
            shuffle_partitions=int(
                os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
            ),
            extra_conf={"spark.driver.memory": "48g"},
        )
        fn = {
            "--unigram": probe_unigram,
            "--langid-mc": probe_langid_mc,
            "--wordpiece": probe_wordpiece,
            "--backoff": probe_backoff,
            "--ppl-buckets": probe_ppl_buckets,
            "--byte-bpe": probe_byte_bpe,
            "--ppl-cutoffs": probe_ppl_cutoffs,
            "--capstones": probe_capstones,
            "--funnel-minhash": probe_funnel_minhash,
            "--funnel-minhash-staged": lambda s, sz: probe_funnel_minhash(
                s, sz, staged=True
            ),
            "--kn": probe_kn,
        }[args[0]]
        print(json.dumps({args[0].lstrip("-"): fn(spark, sizes)}))
        spark.stop()
        return
    if args and args[0] in ("--funnel-prepare", "--funnel-score"):
        # two-process probe: --funnel-prepare <n> <dir>  then (fresh
        # process) --funnel-score <dir>
        spark = build_spark(
            app_name="scaling-probe-funnel2p",
            master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]",
            shuffle_partitions=int(
                os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
            ),
            extra_conf={"spark.driver.memory": "48g"},
        )
        if args[0] == "--funnel-prepare":
            probe_funnel_prepare(spark, int(float(args[1])), args[2])
        else:
            probe_funnel_score(spark, args[1])
        spark.stop()
        return
    if args and args[0] == "--dsir-spill":  # [n_docs [vocab]]
        n_docs = int(float(args[1])) if len(args) > 1 else 2_000_000
        vocab = int(float(args[2])) if len(args) > 2 else 2_000_000
        spark = build_spark(
            app_name="scaling-probe-dsir-spill",
            master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]",
            shuffle_partitions=int(
                os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
            ),
            extra_conf={
                "spark.driver.memory": "48g",
                # the spill probe reads completed-stage metrics from
                # the UI REST API
                "spark.ui.enabled": "true",
            },
        )
        print(
            json.dumps({"dsir_spill": probe_dsir_spill(spark, n_docs, vocab)})
        )
        spark.stop()
        return
    if args and args[0] == "--dsir-auto":  # [n_docs [vocab]]
        n_docs = int(float(args[1])) if len(args) > 1 else 300_000
        vocab = int(float(args[2])) if len(args) > 2 else 100_000
        spark = build_spark(
            app_name="scaling-probe-dsir-auto",
            master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]",
            shuffle_partitions=int(
                os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
            ),
            extra_conf={"spark.driver.memory": "48g"},
        )
        print(json.dumps({"dsir_auto": probe_dsir_auto(spark, n_docs, vocab)}))
        spark.stop()
        return
    if args and args[0] == "--bpe-merges":  # --bpe-merges 128,512,1024 [k [path]]
        counts = [int(c) for c in args[1].split(",")]
        k = int(args[2]) if len(args) > 2 else 32
        path = args[3] if len(args) > 3 else "auto"
        spark = build_spark(
            app_name="scaling-probe",
            master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]",
            shuffle_partitions=int(
                os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
            ),
            extra_conf={"spark.driver.memory": "48g"},
        )
        res = probe_bpe_merges(spark, counts, merges_per_round=k, path=path)
        print(json.dumps({"merges_per_round": k, "path": path, "bpe_merges": res}))
        spark.stop()
        return
    if args and args[0] == "--substring-skew":  # [sizes, default 100k,1M]
        sizes = (
            [int(float(s)) for s in args[1].split(",")]
            if len(args) > 1
            else [100_000, 1_000_000]
        )
        spark = build_spark(
            app_name="scaling-probe-skew",
            master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]",
            shuffle_partitions=int(
                os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
            ),
            extra_conf={"spark.driver.memory": "48g"},
        )
        res = probe_substring_skew(spark, sizes)
        print(json.dumps({"sizes": sizes, "substring_skew_seconds": res}))
        spark.stop()
        return
    if args and args[0] == "--tpch":  # --tpch [factors, default 1,10,100]
        factors = (
            [int(f) for f in args[1].split(",")] if len(args) > 1 else [1, 10, 100]
        )
        spark = build_spark(
            app_name="scaling-probe-tpch",
            master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]",
            shuffle_partitions=int(
                os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)
            ),
            extra_conf={"spark.driver.memory": "48g"},
        )
        base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        res = probe_tpch(spark, base, factors)
        print(json.dumps({"factors": factors, "tpch_seconds": res}))
        spark.stop()
        return
    if args and args[0] == "--only":  # --only op1,op2 [sizes...]
        only = set(args[1].split(","))
        args = args[2:]
    sizes = [int(float(a)) for a in args] or [100_000, 1_000_000, 10_000_000]
    spark = build_spark(
        app_name="scaling-probe",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count() or 8)}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)),
        extra_conf={"spark.driver.memory": "48g"},
    )
    res = probe(spark, sizes, only=only)
    print(json.dumps({"sizes": sizes, "seconds": res}))
    spark.stop()


if __name__ == "__main__":
    main()
