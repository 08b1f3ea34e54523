"""Distributed BPE (byte-pair encoding) vocabulary training — the
tokenizer-construction step of a training-data pipeline (no reference
analogue; the reference has no text processing at all — its SQL surface
stops at LIKE-contains, `sql/NestedCondition.java:173-188`).

This is the textbook Sennrich-style algorithm re-shaped for Spark:

* State lives in the DISTINCT-WORD table ``(word, freq, sym)`` where
  ``sym`` is the space-joined current segmentation — at 100 TB the word
  table (billions of rows) is what shuffles, never the corpus, and corpus
  frequency enters every count as the exact BIGINT ``freq`` weight.
* A word table up to ``pipeline.DRIVER_COLLECT_CAP`` rows is collected
  once and the merges are learned on the driver (``learn_on_driver``),
  as published BPE learns over its word-frequency dictionary: the probe
  of the word table costs three Spark jobs (its shuffle, AQE's cache
  materialization, the collect), and no merge costs any.
* Above the cap one merge iteration = (1) adjacent-pair counts: a
  map-side-combined groupBy over exploded ``zip(sym, sym[1:])`` pairs —
  ONE shuffle whose key cardinality is the pair vocabulary; (2) argmax:
  the top window to the driver (≤ 64 rows at the oracle contract);
  (3) the merge applied to every word as a JVM higher-order
  ``aggregate`` fold (no Python, no UDF).  k merges = k bounded
  shuffles; each iteration's word table is checkpointed and the previous
  one released, so lineage stays O(1).
* The greedy-leftmost merge is a LEFT FOLD over the symbol list: append
  the next symbol, or — when it equals ``right`` and the accumulator's
  last token equals ``left`` — replace that last token with the
  concatenation.  A fold handles runs correctly (``a a a a`` under
  ``(a,a)`` → ``aa aa``, never ``aa a a``) and, critically, it is the
  SAME sequential computation DuckDB's ``list_reduce`` performs — which
  is what lets the driver's SQL oracle replay training bit for bit
  (tie-breaks pinned: count DESC, then left ASC, right ASC).

Determinism contract: pair counts are exact integers; the argmax
tie-break is total; the fold is order-pinned.  No floats anywhere until
the reporting layer (ratios quantized there).
"""

from __future__ import annotations

import heapq

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct whitespace tokens with corpus frequencies and their
    initial character segmentation ``sym`` (space-joined).  One shuffle
    (the word groupBy, map-side combined)."""
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    words = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != "")
    return words.withColumn("sym", F.array_join(chars, " "))


def merge_fold(sym: Column, left: str, right: str) -> Column:
    """Apply one merge rule to a segmentation string: greedy leftmost,
    expressed as a JVM ``aggregate`` left fold (see module docstring for
    why a fold, and why DuckDB's ``list_reduce`` replays it exactly)."""
    s = F.split(sym, " ")
    init = F.element_at(s, 1)
    rest = F.slice(s, 2, F.greatest(F.size(s) - F.lit(1), F.lit(0)))

    def step(acc: Column, x: Column) -> Column:
        last = F.regexp_extract(acc, "[^ ]+$", 0)
        wo_last = F.regexp_replace(acc, " ?[^ ]+$", "")
        merged = F.concat(F.lit(left), x)
        return F.when(
            (x == F.lit(right)) & (last == F.lit(left)),
            F.when(wo_last == "", merged).otherwise(
                F.concat(wo_last, F.lit(" "), merged)
            ),
        ).otherwise(F.concat(acc, F.lit(" "), x))

    return F.when(F.size(s) == 1, sym).otherwise(F.aggregate(rest, init, step))


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies ``(l, r, cnt)`` over current
    segmentations, weighted by word freq — exact BIGINT counts."""
    s = F.split(F.col("sym"), " ")
    two = words.select("freq", s.alias("s")).filter(F.size("s") >= 2)
    z = F.arrays_zip(
        F.slice("s", 1, F.size("s") - 1), F.slice("s", 2, F.size("s") - 1)
    )
    return (
        two.select("freq", F.explode(z).alias("p"))
        .groupBy(F.col("p.0").alias("l"), F.col("p.1").alias("r"))
        .agg(F.sum("freq").alias("cnt"))
    )


def select_disjoint(
    cand: list[tuple[str, str, int]], want: int
) -> list[tuple[str, str, int]]:
    """Greedy symbol-disjoint batch selection (the standard scalable-BPE
    trick): walk candidates in rank order, take a pair only if its left,
    right, AND merged token are all untouched by already-taken pairs
    (including their merged tokens).  Full disjointness makes the
    batch's merges independent — no selected merge can create, destroy,
    or re-rank another selected pair's occurrences, and no merge's
    output token can feed another rule in the same pass — so applying
    them SIMULTANEOUSLY in one left fold equals applying them
    sequentially in rank order."""
    sel: list[tuple[str, str, int]] = []
    used: set[str] = set()
    for l, r, cnt in cand:
        if l in used or r in used or l + r in used:
            continue
        sel.append((l, r, cnt))
        used.update((l, r, l + r))
        if len(sel) == want:
            break
    return sel


def select_exact_prefix(
    cand: list[tuple[str, str, int]],
    want: int,
    window_truncated: bool,
    prior_merged: frozenset[str] = frozenset(),
) -> list[tuple[str, str, int]]:
    """Longest RANK-PREFIX of ``cand`` that is provably bit-identical to
    sequential argmax selection (unlike ``select_disjoint``, which skips
    conflicting candidates and therefore only approximates the
    sequential schedule).  ``cand`` must be the top of the pair table in
    total rank order (cnt DESC, l ASC, r ASC); ``window_truncated`` says
    whether pairs beyond the window exist (their counts are then bounded
    by the window floor, the last collected cnt).
    Candidate k+1 extends the batch only if ALL of:
    * prefix: every candidate ranked above it was selected (a skipped
      conflict could still be the true sequential argmax at its step);
    * symbol-disjoint from every selected rule (l, r, AND merged token
      untouched — so its occurrences and exact count survive the earlier
      merges, and the one-fold batch application equals sequential
      application);
    * no pair CREATED by an earlier selected merge j can outrank it:
      every new pair has the form (x, m_j), (m_j, y) or (m_i, m_j) and
      its count is bounded by the T0 count of some pair with second
      element l_j or first element r_j, so it suffices that
      max(that window max, floor if truncated) < cnt(k+1) STRICTLY (a
      tie against a new pair would need the new symbol's lexicographic
      rank, which the bound cannot see);
    * no earlier selected merge's output token m_j collides with a merge
      learned in a PREVIOUS round (``prior_merged``): a collision lets
      an EXISTING pair (x, m_j) gain count, breaking the old-pairs-only-
      decrease invariant the bound rests on.  Within the batch the
      disjointness check already blocks collisions; initial symbols are
      single characters and every m_j has length >= 2, so the alphabet
      itself can never collide.
    Old pairs need no check: a merge only destroys old-symbol
    adjacencies (disjoint rules never touch the selected candidates),
    so every old pair ranked below the prefix stays below it."""
    sel: list[tuple[str, str, int]] = []
    used: set[str] = set()
    floor = cand[-1][2] if window_truncated else 0
    for l, r, cnt in cand:
        if sel:
            if l in used or r in used or (l + r) in used:
                break
            ok = True
            for lj, rj, _ in sel:
                # (l_j, r_j) itself matches these patterns only when
                # l_j == r_j — and must then be counted: an (a,a)->aa
                # merge can create an (aa,aa) pair bounded by cnt(a,a)
                new_pair_bound = max(
                    (c for (a, b, c) in cand if b == lj or a == rj),
                    default=0,
                )
                if max(new_pair_bound, floor) >= cnt:
                    ok = False
                    break
            if not ok:
                break
        sel.append((l, r, cnt))
        used.update((l, r, l + r))
        if len(sel) >= want or (l + r) in prior_merged:
            break
    return sel


def merge_fold_batch(sym: Column, rules: list[tuple[str, str]]) -> Column:
    """Apply a symbol-disjoint BATCH of merge rules in one greedy-
    leftmost left fold.  The step is a CASE on the incoming symbol's
    ``right`` match (each symbol matches at most one rule — rights are
    disjoint), so per symbol it costs ≤ len(rules) cheap equality checks
    and at most one accumulator-tail regexp — expression size is O(k),
    unlike chaining ``merge_fold`` columns, which nests the whole input
    expression per rule (exponential blow-up; Catalyst cannot
    re-flatten it)."""
    s = F.split(sym, " ")
    init = F.element_at(s, 1)
    rest = F.slice(s, 2, F.greatest(F.size(s) - F.lit(1), F.lit(0)))

    def step(acc: Column, x: Column) -> Column:
        append = F.concat(acc, F.lit(" "), x)
        expr = append
        # reversed so earlier-rank rules end up as OUTER branches (rank
        # order is cosmetic here — rights are pairwise distinct)
        for l, r in reversed(rules):
            last = F.regexp_extract(acc, "[^ ]+$", 0)
            wo_last = F.regexp_replace(acc, " ?[^ ]+$", "")
            merged = F.concat(F.lit(l), x)
            hit = F.when(wo_last == "", merged).otherwise(
                F.concat(wo_last, F.lit(" "), merged)
            )
            expr = F.when(
                x == F.lit(r),
                F.when(last == F.lit(l), hit).otherwise(append),
            ).otherwise(expr)
        return expr

    return F.when(F.size(s) == 1, sym).otherwise(F.aggregate(rest, init, step))


_MERGES_DDL = (
    "merge_rank long, left string, right string, merged string, "
    "pair_count long"
)
_WORDS_DDL = "word string, freq long, sym string"


def round_window(merges_per_round: int, n_left: int) -> int:
    """How many top-ranked pairs one round reads when ``n_left`` merges
    are still to learn.  At ``merges_per_round=1`` (the sequential/oracle
    contract) the window feeds ``select_exact_prefix``, which batches the
    longest PROVABLY bit-identical prefix per round — same results, fewer
    count->argmax->fold rounds (r12: 8 rounds -> 3 on the test corpus); a
    wider window only widens the provable prefix.  Above 1 the window is
    wide enough that the greedy disjoint filter usually finds its
    survivors; a short round (conflicts ate the tail) just re-counts
    sooner — never wrong, only slower."""
    if merges_per_round == 1:
        return 64
    return max(32, 8 * min(merges_per_round, n_left))


def select_round(
    ranked: list[tuple[str, str, int]],
    rules: list[tuple[int, str, str, str, int]],
    n_left: int,
    merges_per_round: int,
) -> list[tuple[str, str, int]]:
    """One round's merges from ``ranked`` — the top ``round_window`` rows
    of the pair table in (cnt DESC, l ASC, r ASC) order — given the
    ``rules`` learned so far.  Both training paths call this, so they
    learn the same rules: ``select_exact_prefix`` at
    ``merges_per_round=1``, ``select_disjoint`` above it."""
    if merges_per_round == 1:
        return select_exact_prefix(
            ranked,
            n_left,
            window_truncated=len(ranked) == round_window(1, n_left),
            prior_merged=frozenset(m for _, _, _, m, _ in rules),
        )
    return select_disjoint(ranked, min(merges_per_round, n_left))


def learn_on_driver(
    table: list[tuple[str, int, str]], n_merges: int, merges_per_round: int
) -> tuple[list[tuple[int, str, str, str, int]], list[tuple[str, int, str]]]:
    """The merge loop over a collected ``(word, freq, sym)`` table, in
    one Python process — as published BPE learns over its word-frequency
    dictionary (Sennrich et al., ACL 2016).  Returns ``(rules, table)``
    with ``rules`` as the merge-table rows and ``table`` the final
    segmentations, equal to the Spark loop's output: the same exact pair
    counts (``freq`` >= 1, as ``word_table`` counts it), the same
    (cnt DESC, l ASC, r ASC) order (Python compares str by code point,
    Spark by UTF-8 bytes — the same order), ``select_round`` on the same
    window, and the same greedy-leftmost fold as ``merge_fold`` /
    ``merge_fold_batch``.

    Counts are kept incrementally: a round re-segments only the words
    that held a selected pair and moves their pair counts; the ranked
    window comes from a lazy heap (stale entries are dropped as they
    surface), so a round costs the words it touches, not the table."""
    segs = [sym.split(" ") for _, _, sym in table]
    freqs = [int(f) for _, f, _ in table]
    counts: dict[tuple[str, str], int] = {}
    holders: dict[tuple[str, str], set[int]] = {}
    for i, s in enumerate(segs):
        for p in zip(s, s[1:]):
            counts[p] = counts.get(p, 0) + freqs[i]
            holders.setdefault(p, set()).add(i)
    heap = [(-c, l, r) for (l, r), c in counts.items()]
    heapq.heapify(heap)

    def move(i: int, sign: int) -> None:
        f = sign * freqs[i]
        s = segs[i]
        for p in zip(s, s[1:]):
            c = counts.get(p, 0) + f
            if c:
                counts[p] = c
                heapq.heappush(heap, (-c, p[0], p[1]))
            else:
                del counts[p]
            if sign > 0:
                holders.setdefault(p, set()).add(i)

    def ranked(cap: int) -> list[tuple[str, str, int]]:
        nonlocal heap
        if len(heap) > 4 * len(counts) + 4096:  # mostly stale: rebuild
            heap = [(-c, l, r) for (l, r), c in counts.items()]
            heapq.heapify(heap)
        top: list[tuple[int, str, str]] = []
        seen: set[tuple[str, str]] = set()
        while heap and len(top) < cap:
            e = heapq.heappop(heap)
            p = (e[1], e[2])
            if counts.get(p) == -e[0] and p not in seen:
                seen.add(p)
                top.append(e)
        for e in top:
            heapq.heappush(heap, e)
        return [(l, r, -nc) for nc, l, r in top]

    rules: list[tuple[int, str, str, str, int]] = []
    rank = 1
    while rank <= n_merges:
        n_left = n_merges - rank + 1
        cand = ranked(round_window(merges_per_round, n_left))
        if not cand:
            break
        sel = select_round(cand, rules, n_left, merges_per_round)
        for l, r, cnt in sel:
            rules.append((rank, l, r, l + r, cnt))
            rank += 1
        # merge_fold_batch: an incoming symbol merges with the previous
        # output token under the rule whose right it is (rights are
        # pairwise distinct in a batch; the top-ranked rule would win)
        left_of: dict[str, str] = {}
        for l, r, _ in sel:
            left_of.setdefault(r, l)
        touched = set().union(*(holders.get((l, r), ()) for l, r, _ in sel))
        for i in touched:
            s = segs[i]
            out = [s[0]]
            for x in s[1:]:
                l = left_of.get(x)
                if l is not None and out[-1] == l:
                    out[-1] = l + x
                else:
                    out.append(x)
            if len(out) < len(s):
                move(i, -1)
                segs[i] = out
                move(i, +1)
    return rules, [
        (w, f, " ".join(s)) for (w, _, _), f, s in zip(table, freqs, segs)
    ]


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    merges_per_round: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Train ``n_merges`` BPE merges over the corpus.

    Returns ``(merges, words)``: ``merges`` is the learned rule table
    ``(merge_rank, left, right, merged, pair_count)`` (≤ n_merges rows —
    training stops early if no adjacent pair remains); ``words`` is the
    final segmented word table ``(word, freq, sym)``.

    A word table up to the cap is held on the driver: the distinct-word
    table is probed with one collect of at most
    ``pipeline.DRIVER_COLLECT_CAP + 1`` rows, and when it fits the whole
    merge loop runs in Python (``learn_on_driver``) and both results are
    Arrow-built local relations — collecting them runs no Spark job, and
    training leaves no cached or checkpointed blocks behind.

    Above the cap the loop runs in Spark, where the driver holds only
    the per-round top rows (≤ ~8·merges_per_round rows per round):
    pair-count shuffle, top-window collect, and the merge applied as a
    JVM fold, with each round's table materialized via
    ``localCheckpoint`` (see the in-loop comment: persist would keep the
    full fold lineage and the driver goes quadratic re-rendering plans).
    Release contract on that path: ``unpersist()`` does NOT free
    localCheckpoint blocks — Spark's ContextCleaner frees them
    asynchronously once the DataFrame is garbage-collected, so callers
    just drop their reference.  Training that stops there before its
    first merge returns the persisted input table itself, which
    ``release_caches()`` frees.  Both paths learn the same rules and
    segmentations.

    ``merges_per_round`` is the scale knob.  At 1 (default, the oracle
    contract) each merge is its own count→argmax→fold round — textbook
    sequential BPE, bit-replayable by the SQL oracle.  At k>1 each round
    counts pairs ONCE and learns up to k symbol-disjoint top pairs
    (see ``select_disjoint``), applying them all in ONE batched fold
    (``merge_fold_batch``) — a 32k-merge vocabulary costs ~32k/k count
    shuffles instead of 32k.  Within a round the disjoint batch is order-
    independent; ACROSS rounds the schedule can diverge from strict
    sequential BPE exactly where a lower-ranked pair's count would have
    been changed by a higher-ranked merge — the standard, accepted
    approximation (each rule's ``pair_count`` is its count at the start
    of its round)."""
    return train_from_words(
        word_table(docs, text_col), n_merges, merges_per_round
    )


def train_from_words(
    words: DataFrame,
    n_merges: int = 8,
    merges_per_round: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """The BPE training loop over an already-built ``(word, freq, sym)``
    table — the alphabet-agnostic core shared by character-level
    ``bpe_train`` and byte-level ``byte_bpe.byte_bpe_train`` (the loop
    never inspects symbols, only splits/joins on the ``' '`` separator,
    so any alphabet whose symbols contain no literal space works).
    Contract (ranks, tie-breaks, batching, the driver/Spark split at
    ``pipeline.DRIVER_COLLECT_CAP``, localCheckpoint lineage truncation
    above it) is exactly ``bpe_train``'s — see its docstring."""
    if merges_per_round < 1:
        raise ValueError(
            f"merges_per_round must be >= 1, got {merges_per_round}"
        )
    from . import (
        DRIVER_COLLECT_CAP,
        iterative_stage_conf,
        local_frame,
        register_cache,
    )

    spark = words.sparkSession
    with iterative_stage_conf(spark):
        # The probe reads the ledgered table, so a table above the cap is
        # computed once and the Spark loop's first round scans the cache.
        # Ledgered: training that stops before its first merge returns
        # this very table, so only release_caches() can free it.
        cur = register_cache(words)
        probe = cur.limit(DRIVER_COLLECT_CAP + 1).collect()
        if len(probe) <= DRIVER_COLLECT_CAP:
            cur.unpersist()
            rules, table = learn_on_driver(
                [(r["word"], r["freq"], r["sym"]) for r in probe],
                n_merges,
                merges_per_round,
            )
            return (
                local_frame(spark, rules, _MERGES_DDL),
                local_frame(spark, table, _WORDS_DDL),
            )
        rules: list[tuple[int, str, str, str, int]] = []
        rank = 1
        while rank <= n_merges:
            n_left = n_merges - rank + 1
            cand = (
                _pair_counts(cur)
                .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
                .limit(round_window(merges_per_round, n_left))
                .collect()
            )
            if not cand:
                break
            sel = select_round(
                [(c["l"], c["r"], int(c["cnt"])) for c in cand],
                rules,
                n_left,
                merges_per_round,
            )
            for l, r, cnt in sel:
                rules.append((rank, l, r, l + r, cnt))
                rank += 1
            if len(sel) == 1:
                # the oracle-contract path: identical expression to r5
                col = merge_fold(F.col("sym"), sel[0][0], sel[0][1])
            else:
                col = merge_fold_batch(F.col("sym"), [(l, r) for l, r, _ in sel])
            # localCheckpoint, not persist: persist keeps the full logical
            # lineage, so after R rounds every job's plan embeds R nested
            # fold trees and the DRIVER goes quadratic just re-rendering the
            # plan string (measured: a 256-merge run spent 15 of 16 minutes
            # in TreeNode.generateTreeString).  Checkpointing truncates the
            # plan to the materialized blocks each round — O(1) plan size —
            # which is the standard Spark shape for iterative algorithms.
            nxt = cur.withColumn("sym", col).localCheckpoint(eager=True)
            cur.unpersist()
            cur = nxt
    return local_frame(spark, rules, _MERGES_DDL), cur


def bpe_vocab(merges: DataFrame, words: DataFrame) -> DataFrame:
    """Token-id table ``(token, token_id)`` for a trained tokenizer:
    base characters (every distinct character of the word table) take ids
    ``0..B-1`` in lexicographic (binary codepoint) order, learned merges
    take ``B + merge_rank - 1``; a merged string that collides with an
    existing token keeps the SMALLEST id (dedup by min — the mapping is a
    function).  The id assignment runs through one unpartitioned
    vocab-sized window — bounded by alphabet + n_merges, never by the
    corpus."""
    from pyspark.sql import Window

    from . import local_frame

    spark = words.sparkSession
    chars = (
        words.select(
            F.explode(
                F.filter(F.split("word", ""), lambda c: c != "")
            ).alias("token")
        )
        .distinct()
    )
    b = chars.count()  # alphabet-bounded driver scalar
    cid = chars.select(
        "token",
        (F.row_number().over(Window.orderBy("token")) - 1)
        .cast("long")
        .alias("token_id"),
    )
    mtok = local_frame(
        spark,
        [
            (r["merged"], b + int(r["merge_rank"]) - 1)
            for r in merges.collect()  # ≤ n_merges rows — driver-bounded
        ],
        "token string, token_id long",
    )
    return (
        cid.unionByName(mtok)
        .groupBy("token")
        .agg(F.min("token_id").alias("token_id"))
    )


def densify_encode(
    seg: DataFrame,
    vocab: DataFrame,
    doc_col: str,
    vjoin: str = "inner",
    with_word_index: bool = False,
) -> DataFrame:
    """Shared position-densification core for the word- and byte-level
    encoders (`bpe_encode` / `byte_bpe.byte_bpe_encode` — extracted so
    the r9 window-sort→regroup reshape lives in ONE place): ``seg`` is
    the per-token-instance segmentation stream ``(doc_col, wpos, sym)``;
    tokens re-collect into one word-ordered array per document
    (``array_sort`` over ≤ doc-length structs), ``posexplode`` of the
    flattened subword sequence IS the global position, and the
    alphabet-sized vocab joins BROADCAST afterwards (``vjoin`` = inner
    to drop vocab misses, left to surface them as NULL ids).  The only
    corpus-wide shuffle is the doc-keyed regroup — one narrow row per
    source token, sorted only inside each document's own array (the
    window-over-exploded-subwords formulation spilled a ~550M-row sort
    at the 1M-doc probe point — SCALING.md round-9)."""
    per_doc = seg.select(
        F.col(doc_col), F.struct("wpos", "sym").alias("__s")
    ).groupBy(doc_col).agg(
        F.array_sort(F.collect_list("__s")).alias("ws")
    )
    subs = F.flatten(
        F.transform(
            "ws",
            lambda st: F.transform(
                F.split(st["sym"], " "),
                lambda t: F.struct(
                    st["wpos"].cast("long").alias("wpos"), t.alias("token")
                ),
            ),
        )
    )
    extra = [F.col("z.wpos").alias("wpos")] if with_word_index else []
    extra_out = ["wpos"] if with_word_index else []
    return (
        per_doc.select(F.col(doc_col), F.posexplode(subs).alias("pos", "z"))
        .select(
            F.col(doc_col),
            F.col("pos").cast("long").alias("pos"),
            *extra,
            F.col("z.token").alias("token"),
        )
        # vocab is alphabet+merges-sized — ALWAYS the build side, even
        # when the corpus side is small enough that stats would flip it
        .join(F.broadcast(vocab), "token", vjoin)
        .select(F.col(doc_col), "pos", *extra_out, "token", "token_id")
    )


def bpe_encode(
    docs: DataFrame,
    words: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    oov: str = "drop",
    with_word_index: bool = False,
    check_vocab_coverage: bool = False,
) -> DataFrame:
    """Encode documents to token-id sequences with a TRAINED tokenizer —
    the last step of the pipeline: whitespace words join the (distinct,
    corpus-small) segmented word table for their subword split, subwords
    join the vocab for ids, and each document's global position index is
    densified over (word position, subword position).  Both joins
    broadcast at scale (word table ≪ corpus, vocab is alphabet-sized);
    the only corpus-wide shuffle is the per-document regroup, keyed by
    document — embarrassingly parallel across docs.

    ``oov`` controls words absent from the training word table (the
    encode-new-documents case):

    - ``"drop"`` (default, the oracle contract): unknown words are
      skipped and positions densify over the gap — only valid when the
      docs being encoded are the training corpus itself.  Positions
      number the SEGMENTATION stream (assigned before the vocab join —
      the r9 regroup shape): a segmentation token missing from
      ``vocab`` is dropped by the inner join and leaves a positional
      gap, so ``vocab`` must cover the segmentation alphabet — true by
      construction when both come from the same training (every entry
      here), and checked explicitly by MaxMatch callers via
      ``wordpiece_vocab`` + the id-table union.  Callers encoding with
      a vocab from a DIFFERENT training (e.g. a truncated vocab over
      maxmatch output with the reachability check off) should pass
      ``check_vocab_coverage=True``: one word-table-sized anti-join
      (the wordpiece ``check_reachability`` precedent) raises a
      ``ValueError`` naming sample uncovered symbols instead of
      silently leaving positional gaps.
    - ``"null"``: unknown words survive as one row each with the raw
      word in ``token`` and a NULL ``token_id``, so the loss is visible
      to the caller (filter ``token_id IS NULL`` for an OOV report).

    ``with_word_index=True`` adds the source word index ``wpos`` to each
    row — the extra column ``bpe_decode`` needs to restore word
    boundaries (the dense global ``pos`` alone cannot).

    Position densification is a per-document REGROUP, not a window
    sort (the r9 reshape, first measured on the byte-level sibling —
    SCALING.md round-9): the segmented words re-collect into one
    word-ordered array per document (``array_sort`` over ≤ doc-length
    structs) and ``posexplode`` of the flattened subword sequence IS
    the global position.  A window over the fully exploded subword
    stream sorts several-fold more, wider shuffle rows and spills at
    fixed resources; the regroup shuffles one narrow row per WORD and
    sorts only inside each document's own array."""
    if oov not in ("drop", "null"):
        raise ValueError(f"oov must be 'drop' or 'null', got {oov!r}")
    if check_vocab_coverage:
        # one word-table-sized job (words is corpus-small + distinct):
        # every symbol the segmentation can emit must have a vocab id —
        # under oov='drop' a miss means the inner join silently gaps
        # positions; under oov='null' it means NULL token_ids for words
        # the word table DOES cover.  The check runs in BOTH modes
        # (ADVICE r10: silently skipping it in null mode left callers
        # believing coverage was verified).
        uncovered = (
            words.select(F.explode(F.split("sym", " ")).alias("token"))
            .distinct()
            .join(F.broadcast(vocab.select("token")), "token", "left_anti")
        )
        sample = [r["token"] for r in uncovered.limit(5).collect()]
        if sample:
            consequence = (
                "oov='drop' would leave positional gaps"
                if oov == "drop"
                else "oov='null' would emit NULL token_ids for "
                "trained words"
            )
            raise ValueError(
                "vocab does not cover the segmentation alphabet — "
                f"{consequence}; uncovered symbols include {sample}. "
                "Use a vocab from the same training, or (drop mode) "
                "oov='null' to surface them as NULL ids."
            )
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    dw = docs.select(
        F.col(doc_col), F.posexplode(toks).alias("wpos", "word")
    )
    if oov == "drop":
        seg = dw.join(words.select("word", "sym"), "word")
        sym = F.col("sym")
    else:
        # OOV words keep a single position: their "segmentation" is the
        # raw word itself, which then misses the vocab join below and
        # surfaces as token_id NULL rather than silently vanishing.
        seg = dw.join(words.select("word", "sym"), "word", "left")
        sym = F.coalesce("sym", "word")
    return densify_encode(
        seg.select(F.col(doc_col), "wpos", sym.alias("sym")),
        vocab,
        doc_col,
        vjoin="inner" if oov == "drop" else "left",
        with_word_index=with_word_index,
    )


def bpe_decode(
    encoded: DataFrame,
    vocab: DataFrame,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Invert ``bpe_encode(..., with_word_index=True)``: token-id
    sequences back to whitespace-normalized text — the round-trip audit
    a pipeline runs on an encoded corpus before shipping it to a
    trainer.  Ids join the (broadcast, alphabet+merges-sized) vocab;
    subwords concatenate with '' inside each word (``wpos``) and words
    join with ' ' in order — BPE merges never cross the whitespace
    boundary, so this reproduces the tokenizer's input exactly.

    Returns ``(id, text, ids_match_tokens)`` where ``ids_match_tokens``
    is False if any row's token_id resolved (via vocab) to a different
    string than the token the encoder carried — the lossless check.

    Shape: one broadcast id join + a per-document rebuild over the
    doc's OWN rows (bounded by doc length, embarrassingly parallel)."""
    if "wpos" not in encoded.columns:
        raise ValueError(
            "bpe_decode needs the word index: encode with "
            "bpe_encode(..., with_word_index=True)"
        )
    v = vocab.select(F.col("token_id"), F.col("token").alias("__vtok"))
    rows = encoded.join(F.broadcast(v), "token_id", "left").select(
        F.col(doc_col),
        "wpos",
        "pos",
        F.coalesce("__vtok", F.col("token")).alias("tok"),
        (F.coalesce("__vtok", F.col("token")) == F.col("token")).alias("__ok"),
    )
    words = (
        rows.groupBy(doc_col, "wpos")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                "",
            ).alias("__word"),
            F.min("__ok").alias("__ok"),
        )
    )
    return (
        words.groupBy(doc_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("wpos", "__word"))),
                    lambda x: x["__word"],
                ),
                " ",
            ).alias("text"),
            F.min("__ok").alias("ids_match_tokens"),
        )
    )


def subword_stats(
    docs: DataFrame,
    words: DataFrame,
    text_col: str = "text",
    by: str = "lang",
    max_word_len: int | None = None,
) -> DataFrame:
    """Apply a trained segmentation to the corpus and report per-group
    compression: token instances, subword instances, and the
    subwords-per-token ratio (one exact division — both engines divide
    the same two BIGINTs).  The corpus joins the (small relative to
    corpus) word table on the token — at scale a broadcast or bucketed
    join; counts are exact integer sums.  ``max_word_len`` optionally
    drops longer instances from the stream — pass the unigram trainer's
    junk-word cap when comparing tokenizers whose word tables differ in
    coverage (``inventory.tokenizer_fertility_report``)."""
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    inst = docs.select(F.col(by), F.explode(toks).alias("word"))
    if max_word_len is not None:
        inst = inst.filter(F.length("word") <= max_word_len)
    nsub = words.select(
        "word", F.size(F.split("sym", " ")).alias("n_sub")
    )
    return (
        inst.join(nsub, "word")
        .groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_sub").alias("n_subwords"),
        )
        .select(
            by,
            "n_tokens",
            "n_subwords",
            (
                F.col("n_subwords").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("subwords_per_token"),
        )
    )
