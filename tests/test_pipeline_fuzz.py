"""Property-based checks for the round-5 curation operators: random tiny
corpora must score identically under the Spark implementation and a direct
pure-Python transcription of each operator's spec (the same spec the DuckDB
oracles implement).  This probes edge shapes the synthetic corpus never
hits — empty docs, single-token docs, all-OOV docs, repeated grams.
"""

import math
import os
import sys

import pytest
from pyspark.sql import functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# randomized spec-oracle sweep: slow lane with the entry oracles
pytestmark = pytest.mark.oracle

WORDS = ["a", "b", "c", "d"]

doc_strategy = st.lists(st.sampled_from(WORDS), min_size=0, max_size=6).map(
    " ".join
)
corpus_strategy = st.lists(doc_strategy, min_size=1, max_size=8)

FUZZ = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _toks(text):
    t = text.strip()
    return t.split() if t else []


def _df(spark, docs):
    return spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )


@given(train=corpus_strategy, score=corpus_strategy)
@FUZZ
def test_bigram_lm_matches_python_spec(spark, train, score):
    from interference_spark.pipeline.lm import (
        perplexity_score,
        train_bigram_lm,
    )

    # python reference: add-one bigram LM per pipeline/lm.py's spec
    bigc, ctxc, vocab = {}, {}, set()
    for d in train:
        t = _toks(d)
        vocab.update(t)
        for c, w in zip(t, t[1:]):
            bigc[(c, w)] = bigc.get((c, w), 0) + 1
            ctxc[c] = ctxc.get(c, 0) + 1
    v = len(vocab) + 1
    want = {}
    for i, d in enumerate(score):
        t = _toks(d)
        if len(t) < 2:
            continue
        q = 0
        for c, w in zip(t, t[1:]):
            if c in ctxc:
                p = (bigc.get((c, w), 0) + 1) / (ctxc[c] + v)
            else:
                p = 1 / v
            q += math.floor(math.log(p) * 1e6)
        want[i] = (len(t) - 1, -q)

    lm = train_bigram_lm(_df(spark, train))
    got = {
        r.doc_id: (r.n_bigrams, r.nll_micronats)
        for r in perplexity_score(_df(spark, score), lm).collect()
    }
    assert got == want


@given(docs=corpus_strategy, terms=st.sets(st.sampled_from(WORDS), min_size=1, max_size=3))
@FUZZ
def test_bm25_matches_python_spec(spark, docs, terms):
    from interference_spark.pipeline.retrieval import bm25_scores

    tokenized = [(_toks(d)) for d in docs]
    nonempty = {i: t for i, t in enumerate(tokenized) if t}
    n = len(nonempty)
    sum_dl = sum(len(t) for t in nonempty.values())
    want = {}
    if n:
        avgdl = sum_dl / n
        dft = {
            term: sum(1 for t in nonempty.values() if term in t)
            for term in terms
        }
        for i, t in nonempty.items():
            s, matched = 0.0, 0
            for term in sorted(terms):
                tf = t.count(term)
                if not tf:
                    continue
                matched += 1
                idf = (
                    math.floor(
                        math.log(1.0 + (n - dft[term] + 0.5) / (dft[term] + 0.5))
                        * 1e6
                    )
                    / 1e6
                )
                s += idf * (
                    (tf * (1.2 + 1.0))
                    / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (len(t) / avgdl)))
                )
            if matched:
                want[i] = matched
    got = {
        r.doc_id: r.n_terms_matched
        for r in bm25_scores(_df(spark, docs), sorted(terms)).collect()
    }
    assert got == want
    # scores agree to float tolerance (each term score rounds to 1e-14 units)
    for r in bm25_scores(_df(spark, docs), sorted(terms)).collect():
        t = nonempty[r.doc_id]
        s = 0.0
        for term in sorted(terms):
            tf = t.count(term)
            if not tf:
                continue
            idf = (
                math.floor(
                    math.log(1.0 + (n - dft[term] + 0.5) / (dft[term] + 0.5))
                    * 1e6
                )
                / 1e6
            )
            s += idf * (
                (tf * (1.2 + 1.0))
                / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (len(t) / sum_dl * n)))
            )
        assert abs(r.score - s) < 1e-9


@given(cand=corpus_strategy, ref=corpus_strategy)
@FUZZ
def test_ngram_novelty_matches_python_spec(spark, cand, ref):
    from interference_spark.pipeline.text import ngram_novelty

    def grams(t, n=3):
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    ref_g = set()
    for d in ref:
        ref_g |= grams(_toks(d))
    want = {}
    for i, d in enumerate(cand):
        g = grams(_toks(d))
        if g:
            want[i] = (len(g), len(g - ref_g))
    out = ngram_novelty(_df(spark, cand), _df(spark, ref), n=3)
    got = {r.doc_id: (r.n_grams, r.n_novel) for r in out.collect()}
    assert got == want


@given(a=corpus_strategy, b=corpus_strategy, k=st.integers(2, 3))
@FUZZ
def test_exact_substring_pairs_matches_python_spec(spark, a, b, k):
    from interference_spark.pipeline.dedup import exact_substring_pairs

    def grams(t):
        return [" ".join(t[i : i + k]) for i in range(len(t) - k + 1)]

    want = {}
    for i, da in enumerate(a):
        ta = _toks(da)
        ga = grams(ta)
        for j, db in enumerate(b):
            tb = _toks(db)
            gb = grams(tb)
            shared = set(ga) & set(gb)
            if not shared:
                continue
            # longest common run = longest diagonal chain of gram hits
            best = 0
            for pa in range(len(ga)):
                for pb in range(len(gb)):
                    if ga[pa] != gb[pb]:
                        continue
                    run = 1
                    while (
                        pa + run < len(ga)
                        and pb + run < len(gb)
                        and ga[pa + run] == gb[pb + run]
                    ):
                        run += 1
                    best = max(best, run)
            want[(i, 1000 + j)] = (len(shared), best + k - 1)

    db_b = spark.createDataFrame(
        [(1000 + j, d) for j, d in enumerate(b)], "doc_id long, text string"
    )
    out = exact_substring_pairs(_df(spark, a), db_b, k=k)
    got = {
        (r.doc_a, r.doc_b): (r.n_shared_grams, r.max_run_tokens)
        for r in out.collect()
    }
    assert got == want


@given(a=corpus_strategy, b=corpus_strategy, k=st.integers(2, 3))
@FUZZ
def test_remove_cross_corpus_substrings_matches_python_spec(spark, a, b, k):
    from interference_spark.pipeline.dedup import (
        remove_cross_corpus_substrings,
    )

    a_grams = set()
    for d in a:
        t = _toks(d)
        a_grams.update(
            " ".join(t[i : i + k]) for i in range(len(t) - k + 1)
        )
    want = {}
    for j, d in enumerate(b):
        t = _toks(d)
        if not t:
            continue
        covered = set()
        for i in range(len(t) - k + 1):
            if " ".join(t[i : i + k]) in a_grams:
                covered.update(range(i, i + k))
        kept = [w for i, w in enumerate(t) if i not in covered]
        want[1000 + j] = (len(t), len(covered), " ".join(kept))
    out = remove_cross_corpus_substrings(
        _df(spark, a),
        spark.createDataFrame(
            [(1000 + j, d) for j, d in enumerate(b)],
            "doc_id long, text string",
        ),
        k=k,
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in out.collect()
    }
    assert got == want


@pytest.mark.parametrize("path", ["driver", "spark_loop"])
@given(corpus=corpus_strategy, k=st.integers(1, 4), n_merges=st.integers(1, 6))
@FUZZ
def test_bpe_batched_matches_python_spec(spark, path, corpus, k, n_merges):
    """Random corpora, batch sizes, and budgets: bpe_train's batched
    schedule must reproduce the driver-side replica of the gated
    symbol-disjoint spec (same selection, same counts, same final
    segmentations) — on the driver path and on the Spark loop (cap
    lowered to 0)."""
    from interference_spark import pipeline
    from interference_spark.pipeline.bpe import bpe_train, select_disjoint

    freqs = {}
    for d in corpus:
        for w in _toks(d):
            freqs[w] = freqs.get(w, 0) + 1
    if not freqs:
        return

    # replica of the batched spec (counts once per round, rank by
    # (-cnt, l, r), greedy full-disjoint pick, rank-order application)
    segs = {w: list(w) for w in freqs}
    rules = []
    rank = 1
    while rank <= n_merges:
        counts = {}
        for w, f in freqs.items():
            s = segs[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        cand = sorted(
            ((l, r, c) for (l, r), c in counts.items()),
            key=lambda t: (-t[2], t[0], t[1]),
        )
        for l, r, c in select_disjoint(cand, min(k, n_merges - rank + 1)):
            rules.append((rank, l, r, l + r, c))
            rank += 1
            for w, s in segs.items():
                out = []
                for x in s:
                    if out and out[-1] == l and x == r:
                        out[-1] = l + r
                    else:
                        out.append(x)
                segs[w] = out

    with pytest.MonkeyPatch.context() as mp:
        if path == "spark_loop":
            mp.setattr(pipeline, "DRIVER_COLLECT_CAP", 0)
        merges, words = bpe_train(
            _df(spark, corpus), n_merges=n_merges, merges_per_round=k
        )
        got_rules = [
            (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
            for r in merges.orderBy("merge_rank").collect()
        ]
        got_segs = {r.word: r.sym.split(" ") for r in words.collect()}
    assert got_rules == rules, (corpus, k, n_merges)
    assert got_segs == segs, (corpus, k, n_merges)


# ---------------------------------------------------------------------
# r7: C4 line rules + Gopher shape rules vs direct python transcriptions
# ---------------------------------------------------------------------

_LINE_WORDS = ["the", "cat", "#", "...", "…", "javascript", "-x", "•b", "w"]

line_strategy = st.lists(
    st.sampled_from(_LINE_WORDS), min_size=0, max_size=7
).map(" ".join).flatmap(
    lambda body: st.sampled_from(["", ".", "!", "?", '"', "x"]).map(
        lambda tail: body + tail
    )
)
multiline_doc = st.lists(line_strategy, min_size=1, max_size=5).map("\n".join)
ml_corpus = st.lists(multiline_doc, min_size=1, max_size=6)


def _c4_keep_line(l: str) -> bool:
    t = l.strip()
    last = t[-1] if t else ""
    words = t.split() if t else [""]
    # spark: size(split(trim, \s+)) — split('') = [''] so count >= 1
    n = len(t.split()) if t.split() else 1
    return n >= 5 and last in (".", "!", "?", '"') and "javascript" not in l.lower()


@given(docs=ml_corpus)
@FUZZ
def test_c4_clean_matches_python_spec(spark, docs):
    from interference_spark.pipeline.text import c4_clean

    got = {r.doc_id: r for r in c4_clean(_df(spark, docs)).collect()}
    for i, d in enumerate(docs):
        lines = d.split("\n")
        kept = [l for l in lines if _c4_keep_line(l)]
        has_lorem = "lorem ipsum" in d.lower()
        has_brace = "{" in d
        r = got[i]
        assert r.n_lines == len(lines)
        assert r.n_kept == len(kept), (d, kept)
        assert r.clean_text == "\n".join(kept)
        assert r.keep_doc == (len(kept) >= 3 and not has_lorem and not has_brace)


def _gopher_py(text: str) -> dict:
    import re as _re0

    t = text.strip()
    # spark regex-trims all whitespace then splits; split('') = ['']
    words = _re0.split(r"\s+", t) if t else [""]
    n_words = len(words)
    word_chars = sum(len(w) for w in words)
    hash_count = text.count("#")
    ell_chars = (len(text) - len(text.replace("...", "")))
    uni_ell = text.count("…")
    lines = text.split("\n")
    bullet = sum(1 for l in lines if l.strip()[:1] in ("-", "*", "•"))
    ell_lines = sum(1 for l in lines if l.strip().endswith("..."))
    import re as _re
    alpha = sum(1 for w in words if _re.search("[A-Za-z]", w))
    stops = sum(
        1
        for s in ("the", "be", "to", "of", "and", "that", "have", "with")
        if s in words
    )
    return dict(
        r_word_count=50 <= n_words <= 100000,
        r_mean_word_len=3 * n_words <= word_chars <= 10 * n_words,
        r_hash_ratio=10 * hash_count <= n_words,
        r_ellipsis_ratio=10 * (ell_chars + 3 * uni_ell) <= 3 * n_words,
        r_bullet_lines=10 * bullet <= 9 * len(lines),
        r_ellipsis_lines=10 * ell_lines <= 3 * len(lines),
        r_alpha_words=5 * alpha >= 4 * n_words,
        r_stopwords=stops >= 2,
    )


@given(docs=ml_corpus)
@FUZZ
def test_gopher_rules_match_python_spec(spark, docs):
    from interference_spark.pipeline.text import gopher_quality_flags

    got = {r.doc_id: r for r in gopher_quality_flags(_df(spark, docs)).collect()}
    for i, d in enumerate(docs):
        want = _gopher_py(d)
        r = got[i]
        for k, v in want.items():
            assert getattr(r, k) == v, (k, d)
        assert r.keep_doc == all(want.values())


# ---------------------------------------------------------------------
# r8: unigram-LM (SentencePiece-style) tokenizer training vs a direct
# python transcription of the hard-EM spec (the same spec the DuckDB
# oracle unrolls in SQL)
# ---------------------------------------------------------------------

_UNI_WORDS = ["abab", "cat", "catcat", "ab", "a", "ccc", "abcat"]
uni_doc = st.lists(st.sampled_from(_UNI_WORDS), min_size=0, max_size=5).map(
    " ".join
)
uni_corpus = st.lists(uni_doc, min_size=1, max_size=5)

_UNI_INF = 10**12
_UNI_BIG = 4 * 10**15


def _unigram_costs_py(counts):
    tot = sum(counts.values())
    return {
        p: -math.floor(math.log(c / tot) * 1e6) for p, c in counts.items()
    }


def _unigram_viterbi_py(word, cost, max_len):
    n = len(word)
    dp = [0]  # dp[i] = encoded best for prefix length i
    for j in range(1, n + 1):
        best = _UNI_BIG
        for l in range(1, max_len + 1):
            if j >= l:
                c = cost.get(word[j - l : j], _UNI_INF)
                best = min(best, ((dp[j - l] // 64) + c) * 64 + (64 - l))
        dp.append(best)
    bnd = [n]
    while bnd[0] > 0:
        bl = 64 - (dp[bnd[0]] % 64)
        bnd.insert(0, bnd[0] - bl)
    return [word[bnd[i] : bnd[i + 1]] for i in range(len(bnd) - 1)]


def _unigram_py(docs, iters, max_len=4, seed_multi=200, min_count=2):
    import collections

    freq = collections.Counter()
    for d in docs:
        for w in _toks(d):
            freq[w] += 1
    if not freq:
        return {}
    sub = collections.Counter()
    for w, f in freq.items():
        for j in range(1, len(w) + 1):
            for l in range(1, max_len + 1):
                if j >= l:
                    sub[w[j - l : j]] += f
    counts = {p: c for p, c in sub.items() if len(p) == 1}
    counts.update(
        dict(
            sorted(
                (
                    (p, c)
                    for p, c in sub.items()
                    if len(p) > 1 and c >= min_count
                ),
                key=lambda t: (-t[1], t[0]),
            )[:seed_multi]
        )
    )
    cost = _unigram_costs_py(counts)
    for _ in range(iters):
        vc = collections.Counter()
        for w, f in freq.items():
            for p in _unigram_viterbi_py(w, cost, max_len):
                vc[p] += f
        counts = {}
        for p in cost:
            if len(p) == 1:
                counts[p] = vc.get(p, 0) + 1
            elif vc.get(p, 0) > 0:
                counts[p] = vc[p]
        cost = _unigram_costs_py(counts)
    return {p: (counts[p], cost[p]) for p in counts}


@given(docs=uni_corpus, iters=st.integers(1, 2))
@FUZZ
def test_unigram_train_matches_python_spec(spark, docs, iters):
    from interference_spark.pipeline.unigram import unigram_train

    pieces, _words = unigram_train(
        _df(spark, docs), iters=iters, max_len=4, seed_multi=200
    )
    got = {r.piece: (r.cnt, r.cost) for r in pieces.collect()}
    want = _unigram_py(docs, iters)
    assert got == want, (docs, iters)


# ---------------------------------------------------------------------
# r8: stupid-backoff trigram LM scoring vs a direct python transcription
# of the spec (the same chain the DuckDB oracle replays)
# ---------------------------------------------------------------------


@given(train=corpus_strategy, score=corpus_strategy)
@FUZZ
def test_backoff_score_matches_python_spec(spark, train, score):
    from interference_spark.pipeline.lm import backoff_score, train_backoff_lm

    tric, bigc, unic = {}, {}, {}
    n_tok = 0
    for d in train:
        t = _toks(d)
        n_tok += len(t)
        for w in t:
            unic[w] = unic.get(w, 0) + 1
        for c, w in zip(t, t[1:]):
            bigc[(c, w)] = bigc.get((c, w), 0) + 1
        for c2, c1, w in zip(t, t[1:], t[2:]):
            tric[(c2, c1, w)] = tric.get((c2, c1, w), 0) + 1
    v = len(unic) + 1
    want = {}
    for i, d in enumerate(score):
        t = _toks(d)
        if len(t) < 3:
            continue
        q = 0
        hits = [0, 0, 0, 0]  # tri, big, uni, oov
        for c2, c1, w in zip(t, t[1:], t[2:]):
            if (c2, c1, w) in tric:
                p = tric[(c2, c1, w)] / bigc[(c2, c1)]
                hits[0] += 1
            elif (c1, w) in bigc:
                p = 0.4 * (bigc[(c1, w)] / unic[c1])
                hits[1] += 1
            elif w in unic:
                p = 0.4 * (0.4 * (unic[w] / n_tok))
                hits[2] += 1
            else:
                p = 0.4 * (0.4 * (1.0 / (n_tok + v)))
                hits[3] += 1
            q += math.floor(math.log(p) * 1e6)
        want[i] = (len(t) - 2, *hits, -q)

    lm = train_backoff_lm(_df(spark, train))
    got = {
        r.doc_id: (
            r.n_trigrams,
            r.n_tri_hits,
            r.n_big_hits,
            r.n_uni_hits,
            r.n_oov,
            r.nll_micronats,
        )
        for r in backoff_score(_df(spark, score), lm).collect()
    }
    assert got == want


# ---------------------------------------------------------------------
# r8: CCNet perplexity terciles vs a python spec (scoring per the bigram
# spec above; bucketing = ntile(3) over (nll_nats, doc_id) per language
# with SQL's first-groups-get-the-remainder rule)
# ---------------------------------------------------------------------


@given(train=corpus_strategy, score=corpus_strategy)
@FUZZ
def test_perplexity_buckets_matches_python_spec(spark, train, score):
    from interference_spark.pipeline.lm import (
        perplexity_buckets,
        train_bigram_lm,
    )

    bigc, ctxc, vocab = {}, {}, set()
    for d in train:
        t = _toks(d)
        vocab.update(t)
        for c, w in zip(t, t[1:]):
            bigc[(c, w)] = bigc.get((c, w), 0) + 1
            ctxc[c] = ctxc.get(c, 0) + 1
    v = len(vocab) + 1
    scored = []
    for i, d in enumerate(score):
        t = _toks(d)
        if len(t) < 2:
            continue
        q = 0
        for c, w in zip(t, t[1:]):
            p = (bigc.get((c, w), 0) + 1) / (ctxc[c] + v) if c in ctxc else 1 / v
            q += math.floor(math.log(p) * 1e6)
        scored.append((i, -q / (1e6 * (len(t) - 1))))
    # two synthetic languages split by doc parity
    want = {}
    for lang, rows in (
        ("aa", [(i, s) for i, s in scored if i % 2 == 0]),
        ("bb", [(i, s) for i, s in scored if i % 2 == 1]),
    ):
        rows.sort(key=lambda r: (r[1], r[0]))
        n = len(rows)
        base, rem = divmod(n, 3)
        sizes = [base + (1 if g < rem else 0) for g in range(3)]
        names = ["head", "middle", "tail"]
        pos = 0
        for g, sz in enumerate(sizes):
            for i, _s in rows[pos : pos + sz]:
                want[i] = names[g]
            pos += sz

    sdf = _df(spark, score).withColumn(
        "lang", F.when(F.col("doc_id") % 2 == 0, "aa").otherwise("bb")
    )
    lm = train_bigram_lm(_df(spark, train))
    got = {r.doc_id: r.bucket for r in perplexity_buckets(sdf, lm).collect()}
    assert got == want


# ---------------------------------------------------------------------
# r8: WordPiece training + MaxMatch encode vs a direct python
# transcription of the spec (the same spec the DuckDB oracle unrolls)
# ---------------------------------------------------------------------


def _wp_mark(word):
    return [word[0]] + ["##" + c for c in word[1:]]


def _wordpiece_py(docs, n_merges):
    import collections

    freq = collections.Counter()
    for d in docs:
        for w in _toks(d):
            freq[w] += 1
    syms = {w: _wp_mark(w) for w in freq}
    rules = []
    for rank in range(1, n_merges + 1):
        sc, pc = collections.Counter(), collections.Counter()
        for w, f in freq.items():
            s = syms[w]
            for t in s:
                sc[t] += f
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        scored = sorted(
            (
                (-float(c) / (float(sc[l]) * float(sc[r])), l, r, c)
                for (l, r), c in pc.items()
            )
        )
        neg, l, r, c = scored[0]
        merged = l + r[2:]
        rules.append((rank, l, r, merged, c, sc[l], sc[r], -neg))
        for w, s in syms.items():
            if len(s) == 1:
                continue
            acc = [s[0]]
            for x in s[1:]:
                if x == r and acc[-1] == l:
                    acc[-1] = merged
                else:
                    acc.append(x)
            syms[w] = acc
    return rules, {w: " ".join(s) for w, s in syms.items()}


def _maxmatch_py(word, vocab, max_piece_len):
    out, pos, n = [], 0, len(word)
    while pos < n:
        best = 0
        for l in range(1, min(max_piece_len, n - pos) + 1):
            if ("" if pos == 0 else "##") + word[pos : pos + l] in vocab:
                best = l
        if best == 0:
            return "[UNK]"
        out.append(("" if pos == 0 else "##") + word[pos : pos + best])
        pos += best
    return " ".join(out)


_WPF_WORDS = ["abab", "aab", "bb", "aba", "b", "abb", "ab"]
wpf_doc = st.lists(st.sampled_from(_WPF_WORDS), min_size=0, max_size=5).map(
    " ".join
)
wpf_corpus = st.lists(wpf_doc, min_size=1, max_size=5)


@given(docs=wpf_corpus, n_merges=st.integers(1, 4))
@FUZZ
def test_wordpiece_train_matches_python_spec(spark, docs, n_merges):
    from interference_spark.pipeline.wordpiece import wordpiece_train

    merges, words = wordpiece_train(_df(spark, docs), n_merges=n_merges)
    got_rules = [
        (
            int(r.merge_rank),
            r.left,
            r.right,
            r.merged,
            int(r.pair_count),
            int(r.left_count),
            int(r.right_count),
            float(r.score),
        )
        for r in merges.orderBy("merge_rank").collect()
    ]
    got_syms = {r.word: r.sym for r in words.collect()}
    want_rules, want_syms = _wordpiece_py(docs, n_merges)
    assert got_rules == want_rules, (docs, n_merges)
    assert got_syms == want_syms, (docs, n_merges)


@given(train=wpf_corpus, enc=wpf_corpus, n_merges=st.integers(1, 3))
@FUZZ
def test_wordpiece_maxmatch_matches_python_spec(spark, train, enc, n_merges):
    from interference_spark.pipeline.wordpiece import (
        maxmatch_encode,
        wordpiece_train,
        wordpiece_vocab,
        wordpiece_word_table,
    )

    tdf = _df(spark, train)
    merges, _w = wordpiece_train(tdf, n_merges=n_merges)
    vocab = wordpiece_vocab(wordpiece_word_table(tdf), merges)
    vset = {r.token for r in vocab.collect()}
    enc_words = wordpiece_word_table(_df(spark, enc))
    if enc_words.count() == 0:
        return
    enc_df = maxmatch_encode(
        enc_words, vocab, max_piece_len=6, check_reachability=False
    )
    got = {r.word: r.sym for r in enc_df.collect()}
    want = {w: _maxmatch_py(w, vset, 6) for w in got}
    assert got == want, (train, enc, n_merges)
    # round-trip: detokenization must recover every non-UNK word exactly
    from interference_spark.pipeline.wordpiece import wordpiece_detokenize

    rt = {
        r.word: r.back
        for r in enc_df.select(
            "word", wordpiece_detokenize(F.col("sym")).alias("back")
        ).collect()
    }
    for w, back in rt.items():
        assert back == (None if got[w] == "[UNK]" else w), (w, got[w], back)
