"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding near-dup.

Scale design (the point of each algorithm at 100 TB):

* **exact**         — one hash-shuffle on a 32-byte digest; combiner-friendly.
* **minhash LSH**   — signatures via a vectorized Pandas UDF (Arrow batches),
                      then *bands* become the shuffle key: candidate pairs
                      only ever meet inside a band bucket, never O(n²).
* **simhash**       — 64-bit fingerprint; near-dup = Hamming ≤ k found by
                      pigeonhole banding (k/4-bit exact-match buckets),
                      verified with ``bit_count(xor)`` JVM-side.
* **ngram jaccard** — exact; the gram vocabulary picks the plan: a
                      prefix-filtered set-similarity join (only each doc's
                      rarest grams post candidates, so common grams never
                      blow up Σ posting-list²), or bit-packed all-pairs
                      popcount when the vocabulary is small.
* **embedding**     — random-hyperplane LSH buckets, same-bucket verify
                      with quantized-integer cosine (deterministic on any
                      partitioning AND engine — oracle-reproducible).

All hashing is seeded/deterministic — no PYTHONHASHSEED dependence anywhere.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MERSENNE = (1 << 61) - 1
_MAXH = (1 << 32) - 1


# --------------------------------------------------------------- exact
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep min-id doc per identical text (hash-groupBy on md5 digest).
    Returns (kept id, n_copies). One shuffle on the digest."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .drop("__h")
    )


def incremental_dedup(
    new_df: DataFrame,
    known_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingestion dedup: keep only new-batch docs whose content
    digest is absent from the known-corpus registry, deduplicating within
    the batch itself first (min-id winner).

    Scale shape: the registry a pipeline actually keeps is the 16-byte
    digest column, not the corpus — ``known_df`` here only ever feeds
    ``md5(text)``, so column pruning reduces its scan to the text column
    and the shuffle carries digests alone. Both the in-batch winner
    resolution and the registry check shuffle on the digest (combiner-
    friendly groupBy + left-anti join); nothing is ever O(corpus × batch).
    """
    reg = known_df.select(F.md5(F.col(text_col)).alias("__h")).distinct()
    batch = new_df.withColumn("__h", F.md5(F.col(text_col)))
    win = batch.groupBy("__h").agg(F.min(id_col).alias(id_col))
    kept = batch.join(win, ["__h", id_col], "left_semi")
    return kept.join(reg, "__h", "left_anti").drop("__h")


# ------------------------------------------------------------- minhash
def _doc_shingles(text: str, k: int) -> set[str]:
    """Distinct k-word shingles of a document (whitespace tokens)."""
    toks = text.split()
    if len(toks) < k:
        return {" ".join(toks)} if toks else {""}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _md5_32(s: str) -> int:
    """Stable 32-bit shingle/token hash (md5 low 4 bytes, little-endian;
    independent of PYTHONHASHSEED — DuckDB oracles recompute it in SQL)."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:4], "little")


def _batch_codes(texts, k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Factorize an Arrow batch's shingles: md5 runs once per UNIQUE shingle
    in the batch (real corpora repeat shingles ~10x), occurrences become int
    codes into the unique-hash table.  Returns (h_uniq, codes, starts) where
    ``codes[starts[i]:starts[i+1]]`` are doc i's shingle ids."""
    codes: list[int] = []
    starts = np.empty(len(texts) + 1, dtype=np.int64)
    starts[0] = 0
    uniq_index: dict[str, int] = {}
    uniq: list[str] = []
    for i, t in enumerate(texts):
        for s in _doc_shingles(t or "", k):
            j = uniq_index.get(s)
            if j is None:
                j = len(uniq)
                uniq_index[s] = j
                uniq.append(s)
            codes.append(j)
        starts[i + 1] = len(codes)
    h_uniq = np.fromiter(
        (_md5_32(s) for s in uniq), dtype=np.uint64, count=len(uniq)
    )
    return h_uniq, np.asarray(codes, dtype=np.int64), starts


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, signature array<long>) via a vectorized Pandas UDF — Arrow
    batches in, numpy (a*h+b) % p minima out."""
    from . import ensure_parallelism

    df = ensure_parallelism(df)
    a, b = _perm_params(num_perm, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        if len(texts) == 0:
            return pd.Series([], dtype=object)
        # batch-vectorized: md5 once per unique shingle, the (a*h+b) mod p
        # permutation matrix once per unique shingle (uint64 wraparound is
        # part of the contract — the oracle replicates it), then per-doc
        # minima as a contiguous segmented reduction over gathered rows.
        h_uniq, codes, starts = _batch_codes(texts, shingle_k)
        vals_uniq = (
            h_uniq[:, None] * a[None, :] + b[None, :]
        ) % _MERSENNE % _MAXH  # (U, num_perm)
        sigs = np.empty((len(texts), num_perm), dtype=np.int64)
        chunk = 1024  # keep the gathered (rows, num_perm) block cache-sized
        for c0 in range(0, len(texts), chunk):
            c1 = min(c0 + chunk, len(texts))
            g = vals_uniq[codes[starts[c0] : starts[c1]]]
            sigs[c0:c1] = np.minimum.reduceat(g, starts[c0:c1] - starts[c0], axis=0)
        return pd.Series(list(sigs))

    return df.select(F.col(id_col), sig(F.col(text_col)).alias("signature"))


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, scored by signature-estimated
    Jaccard; id_a < id_b. The band bucket is the shuffle key — pairs are only
    formed within buckets (never a global cross join)."""
    rows_per_band = num_perm // bands
    # signatures feed three plan branches (banding + both re-attach joins);
    # persist so the Pandas-UDF stage runs once. At 100 TB you'd materialize
    # signatures to a table instead — same idea, durable.
    from . import register_cache

    sigs = register_cache(
        minhash_signatures(df, text_col, id_col, num_perm, shingle_k, seed)
    )
    # candidates travel as narrow (id, bucket) rows — the 128-long signature
    # arrays never enter the band shuffle (they'd dominate its byte volume);
    # they re-attach afterwards via two id-joins on the tiny candidate set.
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(
                    i, F.slice(F.col("signature"), i * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("bucket"),
    )
    left = banded.select(F.col(id_col).alias("id_a"), "bucket")
    right = banded.select(F.col(id_col).alias("id_b"), "bucket")
    pairs = (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_a = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sig_b = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(num_perm))
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def incremental_minhash_dedup(
    new_df: DataFrame,
    known_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Incremental NEAR-dup ingestion — the fuzzy sibling of
    :func:`incremental_dedup`: a new batch is admitted against a
    persisted SIGNATURE REGISTRY (``known_sigs`` = (id, signature) from
    :func:`minhash_signatures`; 128 longs per doc — the registry a 100 TB
    pipeline actually keeps, never the corpus text).  A new doc is
    rejected when its signature-estimated Jaccard reaches ``threshold``
    against ANY registry doc, or against any earlier (lower-id) doc of
    its own batch — the deterministic greedy id-order policy
    (non-cascading: a batch doc rejected by the registry still blocks its
    own later near-dups, which errs toward dropping more duplicates).

    Returns one row per new doc: ``(id, best_known, best_batch, kept)``
    where ``best_*`` is the max est-Jaccard ≥ threshold among banded
    candidates (0.0 when none — sub-threshold candidates are ignored so
    bucket-collision noise cannot perturb the value) and
    ``kept = best_known = best_batch = 0``.  Estimates are k/num_perm —
    exact doubles, so the whole decision table hash-matches a SQL oracle.

    Scale shape: both candidate joins meet ONLY inside band buckets
    (narrow (id, bucket) rows; signatures re-attach by id afterwards) —
    new×known work is bounded by bucket co-occupancy, never
    O(batch × registry).

    Cache lifecycle (round-4 advice): the batch signatures (and, when not
    already cached by the caller, the registry) are persisted only while
    the decision runs — the decision table is persisted, computed
    eagerly, and the temporaries unpersisted before returning, so
    repeated admissions in a long-lived session do not accumulate
    signature caches.  The returned (small: one row per new doc) cached
    table is the caller's to ``unpersist()``."""
    rows_per_band = num_perm // bands
    new_sigs = minhash_signatures(
        new_df, text_col, id_col, num_perm, shingle_k, seed
    ).persist()
    # the registry feeds two plan branches (banding + est re-attach); in
    # production it is a STORED parquet table, but when the caller hands
    # in a computed signature plan (tests, probes) an unpersisted one
    # would re-run its Pandas-UDF stage per branch.  Respect a storage
    # level the caller already chose (never mutate their DataFrame).
    _sl = known_sigs.storageLevel
    own_known = not (_sl.useMemory or _sl.useDisk or _sl.useOffHeap)
    if own_known:
        known_sigs = known_sigs.persist()

    def banded(sigs: DataFrame, idname: str) -> DataFrame:
        return sigs.select(
            F.col(id_col).alias(idname),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda i: F.xxhash64(
                        i,
                        F.slice(
                            F.col("signature"), i * rows_per_band + 1, rows_per_band
                        ),
                    ),
                )
            ).alias("bucket"),
        )

    bn = banded(new_sigs, "id_n")
    bk = banded(known_sigs, "id_k")
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_n", "sig_o", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(num_perm))
    )
    sn = new_sigs.select(F.col(id_col).alias("id_n"), F.col("signature").alias("sig_n"))

    def best_against(cand: DataFrame, other_sigs: DataFrame, out: str) -> DataFrame:
        so = other_sigs.select(
            F.col(id_col).alias("id_o"), F.col("signature").alias("sig_o")
        )
        return (
            cand.join(sn, "id_n")
            .join(so, "id_o")
            .withColumn("__e", est)
            .filter(F.col("__e") >= threshold)
            .groupBy("id_n")
            .agg(F.max("__e").alias(out))
        )

    cand_known = (
        bn.join(bk, "bucket")
        .select("id_n", F.col("id_k").alias("id_o"))
        .distinct()
    )
    bn2 = bn.select(F.col("id_n").alias("id_o"), "bucket")
    cand_batch = (
        bn.join(bn2, "bucket")
        .filter(F.col("id_o") < F.col("id_n"))
        .select("id_n", "id_o")
        .distinct()
    )
    best_known = best_against(cand_known, known_sigs, "best_known")
    best_batch = best_against(cand_batch, new_sigs, "best_batch")
    decision = (
        new_sigs.select(F.col(id_col).alias("id_n"))
        .join(best_known, "id_n", "left")
        .join(best_batch, "id_n", "left")
        .select(
            F.col("id_n").alias(id_col),
            F.coalesce("best_known", F.lit(0.0)).alias("best_known"),
            F.coalesce("best_batch", F.lit(0.0)).alias("best_batch"),
            (
                (F.coalesce("best_known", F.lit(0.0)) == 0.0)
                & (F.coalesce("best_batch", F.lit(0.0)) == 0.0)
            ).alias("kept"),
        )
    )
    from . import register_cache

    decision = register_cache(decision)
    decision.count()  # run the admission while the signature caches live
    new_sigs.unpersist()
    if own_known:
        known_sigs.unpersist()
    return decision


# ------------------------------------------------------------- simhash
def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash over whitespace tokens (md5-derived token hashes,
    unweighted bit votes). Vectorized Pandas UDF."""
    from . import ensure_parallelism

    df = ensure_parallelism(df)

    @F.pandas_udf(T.LongType())
    def sh(texts: pd.Series) -> pd.Series:
        n = len(texts)
        out = np.zeros(n, dtype=np.int64)
        if n == 0:
            return pd.Series(out)
        # batch-vectorized: md5 once per UNIQUE token in the batch, the
        # 64-bit ±1 vote rows once per unique token, then per-doc vote
        # totals as one segmented reduction — no per-token/per-bit loops.
        codes: list[int] = []
        starts = np.empty(n + 1, dtype=np.int64)
        starts[0] = 0
        uniq_index: dict[str, int] = {}
        uniq: list[str] = []
        for i, t in enumerate(texts):
            for tok in set((t or "").split()):
                j = uniq_index.get(tok)
                if j is None:
                    j = len(uniq)
                    uniq_index[tok] = j
                    uniq.append(tok)
                codes.append(j)
            starts[i + 1] = len(codes)
        if not codes:  # all-empty batch → all-zero fingerprints
            return pd.Series(out)
        h_uniq = np.fromiter(
            (
                int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "little")
                for s in uniq
            ),
            dtype=np.uint64,
            count=len(uniq),
        )
        shifts = np.arange(bits, dtype=np.uint64)
        contrib = (
            ((h_uniq[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64) * 2 - 1
        )  # (U, bits) — +1/-1 vote per bit
        counts = np.diff(starts)
        # reduceat quirk guards: a start index == len(codes) (trailing empty
        # docs) raises, and an empty segment returns a[start] instead of 0 —
        # pad one all-zero row so every index is valid without shifting any
        # real segment boundary, then zero empty docs via the counts mask.
        g = np.vstack([contrib[np.asarray(codes)], np.zeros((1, bits), dtype=np.int64)])
        votes = np.add.reduceat(g, starts[:-1], axis=0)  # (n, bits)
        packed = (
            ((votes > 0).astype(np.uint64) << shifts[None, :]).sum(axis=1, dtype=np.uint64)
        ).view(np.int64)
        packed[counts == 0] = 0
        return pd.Series(packed)

    return df.select(F.col(id_col), sh(F.col(text_col)).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ k.

    Plan (two lossless prunings on top of the classic pigeonhole):

    * **fingerprint space, not doc space** — clustered corpora collapse
      many docs onto one fingerprint (measured 5000 docs → 3866 distinct
      at sf0.1, with 36k identical-fingerprint pairs); candidates are
      generated between UNIQUE fingerprints and expanded back to doc
      pairs afterwards, so identical docs never enter the band join.
    * **2-clean-bands covering code** — k+2 bands instead of k+1: a pair
      within distance k has errors in ≤ k bands, leaving ≥ 2 error-free
      bands, so the equi-join runs on C(k+2, 2) band-PAIR keys (~26 bits
      each for k=3) instead of single ~16-bit bands. Same lossless
      guarantee, but the collision floor drops by the extra band's width
      (2^13×) — measured 2.4M → ~90k candidates on clustered text.

    Verify = bit_count(a^b) JVM-side on fingerprint pairs (≤ U² rows,
    U = distinct fingerprints); the doc-pair expansion is two narrow
    id-joins and emits each unordered pair exactly once — the doc-level
    distinct shuffle of the naive plan disappears entirely."""
    nbands = max_hamming + 2
    base, rem = divmod(64, nbands)
    widths = [base + (1 if i < rem else 0) for i in range(nbands)]
    offs = [sum(widths[:i]) for i in range(nbands)]
    # fingerprints feed the distinct + both expansion sides — persist the
    # narrow (id, long) rows so the Pandas-UDF stage runs once (at 100 TB
    # you'd materialize fingerprints to a table instead — same idea)
    from . import register_cache

    sh = register_cache(simhash(df, text_col, id_col))
    uf = sh.select("simhash").distinct()
    band = [
        f"(shiftrightunsigned(simhash, {offs[i]}) & {(1 << widths[i]) - 1}L)"
        for i in range(nbands)
    ]
    combos = [(i, j) for i in range(nbands) for j in range(i + 1, nbands)]
    elems = ", ".join(
        f"named_struct('pid', {p}, "
        f"'bk', shiftleft({band[i]}, {widths[j]}) | {band[j]})"
        for p, (i, j) in enumerate(combos)
    )
    keyed = uf.select("simhash", F.expr(f"inline(array({elems}))"))
    fa = keyed.select(F.col("simhash").alias("fa"), "pid", "bk")
    fb = keyed.select(F.col("simhash").alias("fb"), "pid", "bk")
    fp_cross = (
        fa.join(fb, ["pid", "bk"])
        .filter(F.col("fa") < F.col("fb"))
        .filter(
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))) <= max_hamming
        )
        .select("fa", "fb")
        .distinct()
    )
    # identical-fingerprint groups: every in-group doc pair is hamming 0
    fp_self = uf.select(
        F.col("simhash").alias("fa"), F.col("simhash").alias("fb")
    )
    fp_pairs = fp_cross.unionByName(fp_self)
    a = sh.select(F.col(id_col).alias("ia"), F.col("simhash").alias("fa"))
    b = sh.select(F.col(id_col).alias("ib"), F.col("simhash").alias("fb"))
    return (
        fp_pairs.join(a, "fa")
        .join(b, "fb")
        # cross rows (fa < fb): keep every (ia, ib) combination once and
        # normalize the id order below; self rows (fa == fb): keep the
        # ia < ib half so each in-group pair appears exactly once
        .filter((F.col("fa") < F.col("fb")) | (F.col("ia") < F.col("ib")))
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"),
        )
    )


# ------------------------------------------------------- n-gram jaccard
def char_ngrams(text, n: int = 3):
    """Distinct character n-grams, JVM-side (no UDF)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))),
            lambda i: F.substring(text, i, n),
        )
    )


class CandidateVolumeExceeded(RuntimeError):
    """An exact near-duplicate plan would generate more candidate pairs
    than the caller's ``max_candidate_pairs`` budget allows.

    Raised BEFORE the candidate join runs (the estimate is one cheap
    aggregate over posting-list lengths), so the degenerate corpus shape
    fails fast with a pointer at the scale-safe detector instead of
    degrading into an executor-spill death march — the
    ``corpus_curation_funnel_v2`` exact-trigram stage was measured
    exhausting 31 GB of shuffle spill at 30k docs (SCALING.md round-9)
    where the banded MinHash-LSH sibling (``minhash_dedup_pairs`` /
    ``corpus_curation_funnel_v3``) stays bounded by banding."""


def _guard_candidate_volume(
    estimate: int, cap: int, plan: str
) -> None:
    if estimate > cap:
        raise CandidateVolumeExceeded(
            f"{plan} would generate ~{estimate:,} candidate pairs "
            f"(> max_candidate_pairs={cap:,}). Exact n-gram Jaccard is "
            "gate-corpus-sized by construction on this data shape; use "
            "the banded MinHash-LSH detector instead "
            "(minhash_dedup_pairs, or corpus_curation_funnel_v3 for the "
            "full funnel), whose candidate volume is bounded by banding."
        )


# Distinct-gram vocabulary up to which ngram_jaccard_pairs runs the
# bit-packed all-pairs plan (broadcast side ≤ N × 8·⌈V/64⌉ bytes)
BITMAP_VOCAB_CAP = 4096


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_candidate_pairs: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs at or above ``threshold``.

    Two exact plans with identical output; the corpus picks one:

    * **prefix-filtered set-similarity join** when the vocabulary is
      above ``BITMAP_VOCAB_CAP`` (real corpora; the PPJoin/Vernica-style
      plan, cf. PAPERS.md "Distributed Streaming Set Similarity Join",
      ICDE 2020): candidates are generated only from each doc's
      |g| - ceil(t·|g|) + 1 *globally rarest* grams — any pair
      with Jaccard ≥ t provably shares one — plus a length filter
      (t·|a| ≤ |b| ≤ |a|/t) and the PPJoin positional filter, then exact
      ``array_intersect`` verification. LOSSLESS pruning that collapses
      the Σ(posting-list²) blowup on common grams.
    * **bit-packed all-pairs** when the corpus' distinct-gram vocabulary is
      small (≤ ``BITMAP_VOCAB_CAP``): tiny vocabularies are exactly where
      prefix filtering provably cannot prune (every posting list is huge —
      measured: a 377-gram corpus makes 82% of ALL pairs candidates, and
      the true ≥t output is itself Θ(N²)), so the optimal plan is to make
      per-pair verification nearly free: each gram set packs into
      ⌈V/64⌉ int64 words, the broadcast nested-loop self-join evaluates
      popcount(a AND b) per pair in whole-stage codegen — exact set
      intersection, no hashing, no arrays of strings.

    One bounded read of the distinct grams (at most
    ``BITMAP_VOCAB_CAP`` + 1) picks the plan and, when it fits, is the
    bitmap plan's vocabulary.  The gram table is persisted through
    ``register_cache`` (``release_caches()`` frees it) so the n-gram
    transform runs once for the probe and the chosen plan.  The
    degenerate case the probe detects is data-dependent, not
    SF-dependent: the switch holds at any corpus size.  A naive
    full-posting join (every gram's whole posting list self-joined)
    finds the same pairs but was slower than the probe-picked plan in
    every measurement (SCALING.md), so it is not offered.

    ``max_candidate_pairs`` (VERDICT r9 ask #3) is the runtime guard in
    the spirit of ``max_posting_len``: when set, whichever exact plan was
    selected first ESTIMATES its candidate-pair volume with one cheap
    aggregate (Σ p·(p−1)/2 over the posting lists the join will key on;
    N·(N−1)/2 on the all-pairs bitmap path) and raises
    :class:`CandidateVolumeExceeded` — naming the MinHash-LSH sibling —
    instead of degrading into a Θ(N²) spill. ``None`` (default) keeps
    the guard off and costs nothing."""
    grams = df.select(
        F.col(id_col), char_ngrams(F.col(text_col), n).alias("grams")
    ).withColumn("n_grams", F.size("grams"))
    if max_candidate_pairs is not None and max_candidate_pairs < 1:
        raise ValueError(
            f"max_candidate_pairs must be >= 1, got {max_candidate_pairs}"
        )

    # gram arrays feed the plan-selection read AND whichever branch runs
    # (index build + both verify sides, or the bitmap build) — persist
    # BEFORE branching so the expensive ngram transform runs once, not 3×
    # on the bitmap path
    from . import register_cache

    grams = register_cache(grams)
    # plan selection: one bounded vocabulary read (see docstring)
    vocab = [
        r["g"]
        for r in grams.select(F.explode("grams").alias("g"))
        .distinct()
        .limit(BITMAP_VOCAB_CAP + 1)
        .collect()
    ]
    if len(vocab) <= BITMAP_VOCAB_CAP:
        if max_candidate_pairs is not None:
            n_docs = grams.count()
            _guard_candidate_volume(
                n_docs * (n_docs - 1) // 2,
                max_candidate_pairs,
                f"bit-packed all-pairs Jaccard over {n_docs:,} docs",
            )
        return _bitmap_allpairs_jaccard(grams, id_col, threshold, vocab)

    from pyspark.sql import Window as W
    exploded = grams.select(id_col, "n_grams", F.explode("grams").alias("g"))
    freq = exploded.groupBy("g").agg(F.count("*").alias("df_g"))
    ranked = exploded.join(freq, "g").withColumn(
        "__rk",
        F.row_number().over(W.partitionBy(id_col).orderBy("df_g", "g")),
    )
    prefix_len = (
        F.col("n_grams") - F.ceil(F.lit(threshold) * F.col("n_grams")) + 1
    )
    pref = ranked.filter(F.col("__rk") <= prefix_len)
    if max_candidate_pairs is not None:
        est = (
            pref.groupBy("g")
            .count()
            .agg(
                F.sum(F.col("count") * (F.col("count") - 1) / 2).alias(
                    "pairs"
                )
            )
            .first()["pairs"]
        )
        _guard_candidate_volume(
            int(est or 0),
            max_candidate_pairs,
            "prefix-filtered set-similarity join",
        )
    l = pref.select(
        F.col(id_col).alias("id_a"), F.col("n_grams").alias("na"), "g",
        F.col("__rk").alias("pa"),
    )
    r = pref.select(
        F.col(id_col).alias("id_b"), F.col("n_grams").alias("nb"), "g",
        F.col("__rk").alias("pb"),
    )
    # PPJoin positional filter (lossless): a prefix match at ranks (pa, pb)
    # caps the possible overlap at 1 + min(na-pa, nb-pb); J ≥ t needs
    # overlap ≥ ceil(t/(1+t)·(na+nb))
    overlap_cap = F.lit(1) + F.least(
        F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")
    )
    overlap_need = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("na") + F.col("nb"))
    )
    cand = (
        l.join(r, "g")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("nb") >= F.ceil(F.lit(threshold) * F.col("na")))
            & (F.col("nb") <= F.floor(F.col("na") / F.lit(threshold)))
            & (overlap_cap >= overlap_need)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ga = grams.select(
        F.col(id_col).alias("id_a"), F.col("grams").alias("ga"), F.col("n_grams").alias("na")
    )
    gb = grams.select(
        F.col(id_col).alias("id_b"), F.col("grams").alias("gb"), F.col("n_grams").alias("nb")
    )
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    jac = inter.cast("double") / (
        F.col("na") + F.col("nb") - inter
    ).cast("double")
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _bitmap_allpairs_jaccard(
    grams: DataFrame, id_col: str, threshold: float, vocab: list[str]
) -> DataFrame:
    """Exact all-pairs Jaccard for small-vocabulary corpora: pack each gram
    set into ⌈V/64⌉ int64 words (one vectorized Arrow batch pass), then a
    broadcast nested-loop self-join evaluates Σ bit_count(a AND b) per pair
    inside whole-stage codegen. Exact set semantics — the bit index IS the
    gram identity, no hashing. Used only when V ≤ ``BITMAP_VOCAB_CAP``, so
    the broadcast side is ≤ N × (8·⌈V/64⌉) bytes of narrow rows; the output
    at thresholds where this plan wins is itself Θ(N²), so pair evaluation
    — not candidate generation — is the optimal place to spend.
    ``vocab`` is the corpus' distinct grams, in any order."""
    from . import ensure_parallelism

    index = {g: i for i, g in enumerate(sorted(vocab))}
    n_words = (len(vocab) + 63) // 64

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def pack(gram_lists: pd.Series) -> pd.Series:
        out = []
        for lst in gram_lists:
            words = np.zeros(n_words, dtype=np.uint64)
            idx = np.fromiter(
                (index[g] for g in lst), dtype=np.int64, count=len(lst)
            )
            np.bitwise_or.at(
                words, idx >> 6, np.uint64(1) << (idx & 63).astype(np.uint64)
            )
            out.append(words.view(np.int64))
        return pd.Series(out)

    # bit-words unrolled into FLAT LONG COLUMNS (w0..wN), not an array:
    # the per-pair popcount then compiles to scalar codegen with no
    # per-row array allocation — measured 3x faster than
    # aggregate(zip_with(...)) over array<long> at 12.5M pairs
    bm = grams.select(
        F.col(id_col), F.col("n_grams"), pack(F.col("grams")).alias("bm")
    ).select(
        id_col, "n_grams",
        *[F.col("bm")[i].alias(f"w{i}") for i in range(n_words)],
    )
    # left side repartitioned so the nested-loop parallelizes; right side
    # broadcast (narrow bit-words, bounded by the vocab cap)
    a = ensure_parallelism(
        bm.select(
            F.col(id_col).alias("id_a"), F.col("n_grams").alias("na"),
            *[F.col(f"w{i}").alias(f"a{i}") for i in range(n_words)],
        )
    )
    b = bm.select(
        F.col(id_col).alias("id_b"), F.col("n_grams").alias("nb"),
        *[F.col(f"w{i}").alias(f"b{i}") for i in range(n_words)],
    ).hint("broadcast")
    if n_words == 0:
        # empty vocabulary (zero input docs, or all-empty gram sets —
        # e.g. a dedup stage running on a fully-filtered survivor set):
        # no grams, no pairs.  Typed empty result, not an IndexError.
        idt = grams.schema[id_col].dataType.simpleString()
        return grams.sparkSession.createDataFrame(
            [], f"id_a {idt}, id_b {idt}, jaccard double"
        )
    counts = [
        F.bit_count(F.col(f"a{i}").bitwiseAND(F.col(f"b{i}")))
        for i in range(n_words)
    ]
    inter = counts[0]
    for c in counts[1:]:
        inter = inter + c
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    # length filter folded into the join condition (lossless: J ≥ t forces
    # t·|a| ≤ |b| ≤ |a|/t) — pairs fail on two integer compares before any
    # popcount work
    cond = (
        (F.col("id_a") < F.col("id_b"))
        & (F.col("nb") >= F.ceil(F.lit(threshold) * F.col("na")))
        & (F.col("nb") <= F.floor(F.col("na") / F.lit(threshold)))
    )
    return (
        a.join(b, cond)
        .withColumn("inter", inter)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------ embedding cosine
def ngram_containment_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    prefix_filter: bool = False,
) -> DataFrame:
    """Asymmetric near-containment report: for every document, how many
    OTHER documents contain ≥ ``threshold`` of its distinct character
    n-grams, and the best such containment ``C(a→b) = |A∩B| / |A|``.

    Containment catches what symmetric Jaccard structurally cannot: a
    short document quoted inside a much longer one has high containment
    but low Jaccard (the union is dominated by the long side) — the
    SlimPajama-style "is this doc subsumed elsewhere" dedup mode.

    Returns one bounded row per document (never the pair blowup):
    ``(id, n_grams, n_containers, best_containment)`` with zero/0.0 for
    uncontained docs.  ``best_containment`` is a max over exact int/int
    double divisions — order-independent, oracle-safe.

    Scale shape: with ``prefix_filter=True`` (the real-corpus path),
    candidates come from the lossless prefix bound on the CONTAINED
    side only — any pair with C(a→b) ≥ t shares one of a's
    |A| − ⌈t·|A|⌉ + 1 globally RAREST grams (pigeonhole over the
    rarity ordering), and the container needs |B| ≥ ⌈t·|A|⌉ — so common
    grams never post the full pair space; survivors verify exactly with
    ``array_intersect``.  The default naive posting join is cheaper at
    bounded scale (no frequency pass) and identical in output (asserted
    by test)."""
    grams = df.select(
        F.col(id_col), char_ngrams(F.col(text_col), n).alias("grams")
    ).withColumn("na", F.size("grams"))
    if prefix_filter:
        pairs = _containment_pairs_prefix(grams, id_col, threshold)
    else:
        a = grams.select(
            F.col(id_col).alias("id_a"), "na", F.explode("grams").alias("g")
        )
        b = grams.select(
            F.col(id_col).alias("id_b"), F.explode("grams").alias("g")
        )
        pairs = (
            a.join(b, "g")
            .filter(F.col("id_a") != F.col("id_b"))
            .groupBy("id_a", "id_b", "na")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    c = F.col("inter").cast("double") / F.col("na").cast("double")
    rep = (
        pairs.withColumn("c", c)
        .filter(F.col("c") >= F.lit(float(threshold)))
        .groupBy("id_a")
        .agg(
            F.count(F.lit(1)).alias("n_containers"),
            F.max("c").alias("best"),
        )
    )
    return grams.join(rep, grams[id_col] == rep["id_a"], "left").select(
        F.col(id_col),
        F.col("na").cast("long").alias("n_grams"),
        F.coalesce("n_containers", F.lit(0)).cast("long").alias("n_containers"),
        F.coalesce("best", F.lit(0.0)).alias("best_containment"),
    )


def jaccard_threshold_sweep(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    thresholds: tuple[float, ...] = (0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """Dedup aggressiveness planning: for each candidate threshold, how
    many near-dup pairs fire and how many distinct documents they touch.
    One pair computation (at ``min(thresholds)``) serves every
    threshold — the sweep is a broadcast of the threshold list over the
    scored pairs, so choosing a dedup bar costs one pass, not one pass
    per candidate bar.

    Returns ``(threshold, n_pairs, n_docs)``, one row per threshold."""
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    spark = df.sparkSession
    ts = sorted(float(t) for t in thresholds)
    pairs = ngram_jaccard_pairs(df, text_col, id_col, n=n, threshold=ts[0])
    th = spark.createDataFrame([(t,) for t in ts], "threshold double")
    hit = pairs.crossJoin(F.broadcast(th)).filter(
        F.col("jaccard") >= F.col("threshold")
    )
    # ONE aggregate over the exploded ids scores each pair once: every
    # canonical (id_a < id_b) pair explodes to exactly two id rows
    counts = (
        hit.select(
            "threshold",
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("d"),
        )
        .groupBy("threshold")
        .agg(
            F.expr("count(1) div 2").alias("n_pairs"),
            F.countDistinct("d").alias("n_docs"),
        )
    )
    return (
        th.join(counts, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )


def cross_source_dup_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Provenance analytics: near-dup pair counts per (source, source)
    cell — which ingestion sources duplicate each other (mirror sites,
    re-crawls, cross-posted content) vs which only self-duplicate.
    Canonical ``source_a ≤ source_b`` orientation; output is bounded by
    the square of the source count, never the pair space."""
    pairs = ngram_jaccard_pairs(df, text_col, id_col, n=n, threshold=threshold)
    src = df.select(F.col(id_col), F.col(source_col))
    sa = src.select(
        F.col(id_col).alias("id_a"), F.col(source_col).alias("__sa")
    )
    sb = src.select(
        F.col(id_col).alias("id_b"), F.col(source_col).alias("__sb")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _spread_if_narrow(df: DataFrame) -> DataFrame:
    """Shingle hashing is the CPU-heavy per-row stage; a small-file input
    (one parquet split) would run it on one core, so spread it first.
    The partition probe (``df.rdd.getNumPartitions()``) forces a full
    logical→RDD translation, so callers run it ONCE per input corpus and
    reuse the result — not once per gram pass — and only pay the
    round-robin shuffle when the deficit is large (< half the cores:
    a 20-partition input on 32 cores finishes within ~2× of ideal
    without it, while 1-split parquet is the real 32× cliff)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, par // 2):
        df = df.repartition(par)
    return df


def _token_gram_positions(
    df: DataFrame, k: int, text_col: str, id_col: str, out_id: str
) -> DataFrame:
    """Per document: every k-token shingle as ``(out_id, p, gh)`` with
    1-based token position ``p`` and ``gh`` = md5 of the space-joined
    gram — the engine-portable digest both Spark and the SQL oracle
    compute identically.  Pure per-row codegen (tokenize, slice, hash);
    zero shuffle.  Callers pre-spread narrow inputs via
    ``_spread_if_narrow`` (once per corpus, not once per call)."""
    t = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - F.lit(k - 1)),
        lambda p: F.md5(F.array_join(F.slice(t, p, k), " ")),
    )
    return (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .filter(F.size(t) >= k)
        .select(F.col(id_col).alias(out_id), F.posexplode(grams).alias("p0", "gh"))
        .select(out_id, (F.col("p0") + 1).alias(f"p_{out_id}"), "gh")
    )


def exact_substring_pairs(
    docs_a: DataFrame,
    docs_b: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_posting_len: int | None = None,
) -> DataFrame:
    """Corpus↔corpus EXACT substring overlap at ``k``-token granularity
    (the Lee et al. "Deduplicating Training Data Makes Language Models
    Better" shape, re-expressed as a distributed gram join instead of a
    single-node suffix array): two documents share an exact run of
    ≥ k consecutive tokens iff they share at least one k-token shingle —
    so one hash-partitioned join on the shingle digest is a complete,
    exact detector, and it is linear in corpus size (Σ posting lists),
    not quadratic.

    Returns one row per overlapping cross-corpus pair:
    ``(doc_a, doc_b, n_shared_grams, max_run_tokens)`` where
    ``n_shared_grams`` counts distinct shared shingles and
    ``max_run_tokens`` is the length in tokens of the longest exact
    common substring (diagonal islands over shared (p_a, p_b) positions:
    consecutive shingle hits on the same p_a − p_b diagonal chain into
    runs of m shingles = m + k − 1 tokens).

    Scale shape: shingle hashing is per-row codegen; the join key is a
    32-hex digest, so the shuffle carries narrow rows.  Hot boilerplate
    shingles (one license header in 10% of docs) fatten posting lists
    quadratically — the gh join emits |posting_a|·|posting_b| rows per
    digest.  ``max_posting_len`` is the in-operator cap: shingles
    occurring more than that many times on EITHER side are treated as
    non-matching boilerplate (excluded from the join), the same df-filter
    playbook as stopwords in the n-gram family.  The hot set is tiny by
    construction (only digests above the cap), so the exclusion is a
    broadcast anti-join, and the join cost bound becomes cap² per digest.
    Default ``None`` keeps bit-exact ≥ k detection.

    MEMORY BOUND (ADVICE r11): the per-pair run aggregation collects
    every shared (diagonal, position) struct of a doc pair into ONE
    aggregation group (an ordered in-memory fold — it does not spill),
    so with ``max_posting_len=None`` a pair of long near-identical
    documents buffers O(shared shingles) structs in a single group.  At
    scale, set ``max_posting_len`` (which also bounds this buffer —
    shared positions per digest are capped at cap² and interesting
    duplicate runs survive far below any realistic cap) or pre-trim
    giant documents upstream."""
    if k < 1:
        raise ValueError(f"k must be >= 1 token, got {k}")
    if max_posting_len is not None and max_posting_len < 1:
        raise ValueError(f"max_posting_len must be >= 1, got {max_posting_len}")
    ga = _token_gram_positions(
        _spread_if_narrow(docs_a), k, text_col, id_col, "doc_a"
    )
    gb = _token_gram_positions(
        _spread_if_narrow(docs_b), k, text_col, id_col, "doc_b"
    )
    if max_posting_len is not None:
        hot = (
            ga.groupBy("gh").agg(F.count(F.lit(1)).alias("pl"))
            .unionByName(gb.groupBy("gh").agg(F.count(F.lit(1)).alias("pl")))
            .filter(F.col("pl") > max_posting_len)
            .select("gh")
            .distinct()
        )
        ga = ga.join(F.broadcast(hot), "gh", "left_anti")
        gb = gb.join(F.broadcast(hot), "gh", "left_anti")
    shared = ga.join(gb, "gh")

    # r11 single-shuffle finish: the old plan evaluated `shared` TWICE
    # (once for the distinct-gram counts, once for the diagonal-island
    # window) and re-joined the two aggregates — 2 extra evaluations of
    # the gram join plus a window exchange, a double groupBy and a
    # (doc_a, doc_b) join.  Both outputs are per-pair and doc-bounded,
    # so ONE groupBy computes them together: distinct shared grams via
    # array_distinct over the collected gh list, and the longest
    # diagonal run via an ordered fold over the sorted (diagonal,
    # position) structs — consecutive positions on one diagonal chain
    # exactly as the old row_number window grouped them.  Group state is
    # bounded by the pair's shared-gram count (the same bound the old
    # window partitions had; `max_posting_len` caps the adversarial
    # case).
    dp = F.struct(
        (F.col("p_doc_a") - F.col("p_doc_b")).alias("d"),
        F.col("p_doc_a").alias("p"),
    )
    run_fold = F.expr(
        "aggregate(__dp, "
        "struct(CAST(NULL AS BIGINT) AS pd, CAST(NULL AS BIGINT) AS pp, "
        "CAST(0 AS BIGINT) AS cur, CAST(0 AS BIGINT) AS best), "
        "(acc, s) -> struct(CAST(s.d AS BIGINT) AS pd, "
        "CAST(s.p AS BIGINT) AS pp, "
        "IF(CAST(s.d AS BIGINT) <=> acc.pd AND CAST(s.p AS BIGINT) = "
        "acc.pp + 1L, acc.cur + 1L, 1L) AS cur, "
        "GREATEST(acc.best, IF(CAST(s.d AS BIGINT) <=> acc.pd AND "
        "CAST(s.p AS BIGINT) = acc.pp + 1L, acc.cur + 1L, 1L)) AS best"
        ")).best"
    )
    return (
        shared.groupBy("doc_a", "doc_b")
        .agg(
            F.size(F.array_distinct(F.collect_list("gh")))
            .cast("long")
            .alias("n_shared_grams"),
            F.sort_array(F.collect_list(dp)).alias("__dp"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared_grams",
            (run_fold + F.lit(k - 1)).cast("long").alias("max_run_tokens"),
        )
    )


def remove_cross_corpus_substrings(
    docs_a: DataFrame,
    docs_b: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_posting_len: int | None = None,
) -> DataFrame:
    """APPLY the cross-corpus exact-substring signal: rewrite every
    document of corpus B with the tokens covered by any exact ≥ k-token
    run shared with corpus A removed (the second half of the Lee-et-al
    exact-substring dedup — `exact_substring_pairs` is the report, this
    is the cleanup).  A shared shingle at position p covers tokens
    p..p+k−1; the removal is the union of covered intervals, so
    overlapping runs never double-remove.  Docs shorter than k tokens or
    with no shared run pass through verbatim (empty-text rows are
    outside the contract, as in the rest of the gram family).

    Returns one row per non-empty B doc:
    ``(id, n_tokens, n_removed, clean_text)``.

    Scale shape: A contributes only its DISTINCT shingle digests (a
    semi-join-shaped reduction — never A's text); the digest join is the
    same linear posting join as detection; interval expansion is ≤ k
    rows per hit; and the explode → anti-join → rebuild pipeline runs
    ONLY over TOUCHED documents (semi-join pruned — duplication hits
    are sparse in a real corpus, and the 1M-doc probe measured the
    rebuild-everything variant super-linear from exactly this).  The
    untouched majority passes through as a pure whitespace-normalizing
    projection — identical output to a zero-removal rebuild.  Nothing
    corpus-sized on the driver, no pair blow-up — coverage is per-doc,
    not per-pair.  ``max_posting_len`` (same knob as
    `exact_substring_pairs`): shingles occurring more than that many
    times in corpus B are boilerplate, not contamination — they are
    excluded from the hit set (broadcast anti-join on the tiny hot set),
    so ubiquitous headers neither fatten the coverage explode nor get
    stripped from every document.  The A side needs no cap: its digests
    enter distinct()-collapsed, ≤ 1 row per gh."""
    if k < 1:
        raise ValueError(f"k must be >= 1 token, got {k}")
    if max_posting_len is not None and max_posting_len < 1:
        raise ValueError(f"max_posting_len must be >= 1, got {max_posting_len}")
    # probe/spread each corpus ONCE (the probe forces plan→RDD
    # translation); db is the single tokenization base reused by the
    # gram pass AND the rebuild below
    db = _spread_if_narrow(docs_b)
    ga = _token_gram_positions(
        _spread_if_narrow(docs_a), k, text_col, id_col, "doc_a"
    )
    gb = _token_gram_positions(db, k, text_col, id_col, "doc_b")
    if max_posting_len is not None:
        hot = (
            gb.groupBy("gh").agg(F.count(F.lit(1)).alias("pl"))
            .filter(F.col("pl") > max_posting_len)
            .select("gh")
        )
        gb = gb.join(F.broadcast(hot), "gh", "left_anti")
    hits = gb.join(ga.select("gh").distinct(), "gh")
    covered = hits.select(
        "doc_b",
        F.explode(
            F.sequence(F.col("p_doc_b"), F.col("p_doc_b") + F.lit(k - 1))
        ).alias("pos"),
    ).distinct()

    t = F.split(F.trim(F.col(text_col)), r"\s+")
    base = db.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).alias("doc_b"), t.alias("__t")
    )
    touched = base.join(covered.select("doc_b").distinct(), "doc_b", "leftsemi")
    toks = touched.select(
        "doc_b", F.posexplode("__t").alias("p0", "w")
    ).select("doc_b", (F.col("p0") + 1).alias("pos"), "w")
    kept = (
        toks.join(covered, ["doc_b", "pos"], "left_anti")
        .groupBy("doc_b")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("clean_text")
        )
    )
    nrem = covered.groupBy("doc_b").agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    rebuilt = (
        touched.select("doc_b", F.size("__t").alias("n_tokens"))
        .join(nrem, "doc_b")
        .join(kept, "doc_b", "left")
        .select(
            "doc_b",
            "n_tokens",
            "n_removed",
            # a fully-covered doc has no kept rows at all
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
    verbatim = base.join(
        covered.select("doc_b").distinct(), "doc_b", "left_anti"
    ).select(
        "doc_b",
        F.size("__t").alias("n_tokens"),
        F.lit(0).alias("n_removed"),
        F.array_join("__t", " ").alias("clean_text"),
    )
    return rebuilt.unionByName(verbatim).select(
        F.col("doc_b").alias(id_col),
        F.col("n_tokens").cast("long"),
        F.col("n_removed").cast("long").alias("n_removed"),
        "clean_text",
    )


def _containment_pairs_prefix(
    grams: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Prefix-filtered containment candidates + exact verification:
    (id_a, id_b, na, inter) for every a ≠ b sharing ≥ 1 gram of a's
    rarity prefix, with ``inter`` the EXACT distinct-gram intersection.
    Lossless: C(a→b) ≥ t ⇒ at most ⌈t·na⌉ − 1 of a's grams miss B, so
    B hits one of a's first na − ⌈t·na⌉ + 1 grams in ANY fixed gram
    ordering — rarity order just makes those posting lists short."""
    from pyspark.sql import Window as W

    exploded = grams.select(id_col, "na", F.explode("grams").alias("g"))
    freq = exploded.groupBy("g").agg(F.count(F.lit(1)).alias("df_g"))
    ranked = exploded.join(freq, "g").withColumn(
        "__rk",
        F.row_number().over(W.partitionBy(id_col).orderBy("df_g", "g")),
    )
    prefix_len = F.col("na") - F.ceil(F.lit(threshold) * F.col("na")) + 1
    pref = ranked.filter(F.col("__rk") <= prefix_len).select(
        F.col(id_col).alias("id_a"), F.col("na").alias("__na"), "g"
    )
    allb = exploded.select(
        F.col(id_col).alias("id_b"), F.col("na").alias("nb"), "g"
    )
    cand = (
        pref.join(allb, "g")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("nb") >= F.ceil(F.lit(threshold) * F.col("__na")))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ga = grams.select(
        F.col(id_col).alias("id_a"), F.col("grams").alias("ga"),
        F.col("na").alias("na"),
    )
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("grams").alias("gb"))
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a", "id_b", "na",
            F.size(F.array_intersect(F.col("ga"), F.col("gb"))).alias("inter"),
        )
    )


def hyperplane_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(id, __e double-vector, bucket sign-string) via random-hyperplane
    LSH — the shared bucketing step of near-dup pairing and bucketed ANN.
    Plane constants are seeded numpy normals inlined as literals, so the
    DuckDB oracle reproduces buckets bit for bit."""
    if dim is None:
        probe = df.select(vec_col).first()
        if probe is None:
            # empty corpus (routine pipeline edge: a filter matched zero
            # rows) → zero buckets, not a NoneType crash
            return df.select(
                F.col(id_col),
                F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__e"),
                F.lit("").alias("bucket"),
            ).limit(0)
        dim = len(probe[0])
    rng = np.random.RandomState(seed)
    hyper = rng.standard_normal((planes, dim))

    from . import lit_double_matrix

    # one F.expr parse, not planes×dim F.lit round trips (~400 blocking
    # py4j calls per construction at planes=6, dim=64 — measured the
    # dominant cost of building every LSH-family query); bit-identical
    # (repr round-trip + correctly-rounded parse, see lit_double_array)
    hyper_rows = [[float(x) for x in row] for row in hyper]
    planes_lit = lit_double_matrix(hyper_rows)
    # pre-project the cast vector: expressions are not CSE'd inside
    # higher-order-function lambdas, so an inline cast-transform would be
    # re-evaluated once per plane (see text.ngrams_from_tokens PERF note)
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    pre = df.select(F.col(id_col), vec_d.alias("__e"))
    # bucket = concatenated sign bits of the hyperplane projections
    bucket = F.array_join(
        F.transform(
            planes_lit,
            lambda plane: F.when(
                F.aggregate(
                    F.zip_with(plane, F.col("__e"), lambda p, v: p * v),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                > 0,
                F.lit("1"),
            ).otherwise(F.lit("0")),
        ),
        "",
    )
    return pre.select(F.col(id_col), F.col("__e"), bucket.alias("bucket"))


def quantized_cosine_sums(x: F.Column, y: F.Column) -> list[F.Column]:
    """The three aggregate halves of the engine-reproducible cosine:
    per-position products quantized with floor(p·1e14) into BIGINT sums
    (floor has no tie-breaking, integer sums are exact on any
    partitioning). Combine with :func:`quantized_cosine_value`."""
    q = F.lit(1e14)
    return [
        F.sum(F.floor((x * y) * q)).alias("dot_d"),
        F.sum(F.floor((x * x) * q)).alias("na"),
        F.sum(F.floor((y * y) * q)).alias("nb"),
    ]


def quantized_cosine_value() -> F.Column:
    return F.col("dot_d").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs: random-hyperplane LSH bucket (one
    shuffle on an 8-char sign string), then exact cosine verification of
    same-bucket candidates with an order-free decimal accumulation chain —
    bit-identical on any partitioning AND reproducible by the DuckDB oracle
    (a numpy-matmul verify would differ in low float bits per BLAS
    summation order). Candidate volume is bounded by bucket sizes, never
    O(n^2)."""
    bucketed = hyperplane_buckets(df, vec_col, id_col, planes, seed, dim)

    l = bucketed.select(
        F.col(id_col).alias("id_a"), F.col("__e").alias("ea"), "bucket"
    )
    r = bucketed.select(
        F.col(id_col).alias("id_b"), F.col("__e").alias("eb"), "bucket"
    )
    # Deterministic cosine on ANY partitioning and engine — the quantized
    # floor(p·1e14) BIGINT accumulation owned by quantized_cosine_sums /
    # quantized_cosine_value (one place owns the scale and recombination,
    # so this score cannot drift from the ANN variants or their oracles).
    cand = (
        l.join(r, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ea", "eb")
    )
    zipped = F.zip_with(
        F.col("ea"), F.col("eb"),
        lambda x, y: F.named_struct(F.lit("x"), x, F.lit("y"), y),
    )
    expl = cand.select(
        "id_a", "id_b", F.explode(zipped).alias("v")
    )
    sums = expl.groupBy("id_a", "id_b").agg(
        *quantized_cosine_sums(F.col("v.x"), F.col("v.y"))
    )
    return (
        sums.withColumn("cosine", quantized_cosine_value())
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ------------------------------------------------ duplicate clustering
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Component labels (node → min id in its connected component) over an
    undirected duplicate-pair edge set, via distributed min-label
    propagation: each round is one join + one groupBy-min, label lineage cut
    with ``localCheckpoint`` so round N's plan doesn't replay rounds 1..N-1.

    Rounds needed = graph diameter. Duplicate clusters are near-cliques
    (every member pairs with most others), so diameter is tiny (≤ 3-4) and
    this converges in a handful of rounds even at 100 TB; ``max_rounds`` is
    a safety rail, and convergence is detected by a cheap count of changed
    labels. Returns (id, cluster_id).
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        # neighbor's current label flows across each directed edge
        msgs = edges.join(
            labels.select(F.col("id").alias("v"), F.col("cluster_id")), "v"
        ).select(F.col("u").alias("id"), "cluster_id")
        new_labels = (
            labels.union(msgs)
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Full-corpus cluster assignment: every doc gets a cluster_id (its
    component's min id; singletons label themselves). The canonical doc of
    a cluster is the one with ``doc_id == cluster_id`` — filtering on that
    IS the deduplicated corpus."""
    labels = connected_components(pairs, id_a, id_b)
    return (
        df.select(F.col(id_col))
        .join(labels.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
    )


# ------------------------------------------------ edit-distance near-dup
def editdistance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 32,
    max_dist: int = 10,
) -> DataFrame:
    """Blocked edit-distance near-dup pairs: Levenshtein over the first
    ``prefix_len`` characters, candidates restricted to documents sharing
    the same first two whitespace tokens (classic record-linkage
    blocking).  Complements the set-based detectors (MinHash/Jaccard treat
    texts as bags of shingles; edit distance is order-sensitive and
    catches small in-place edits they under-score).

    Blocking is a deliberate recall tradeoff — a pair whose first two
    words differ is never considered (document it, don't hide it).

    Scale shape: one shuffle on the block key; pairs only form inside a
    block (never O(n²) corpus-wide); the Levenshtein itself is Spark's
    built-in JVM expression over bounded ``prefix_len``-char strings, so
    per-pair cost is a constant ≤ prefix_len² char ops inside whole-stage
    codegen. Skewed blocks (boilerplate-heavy corpora) → salt the block
    key or cap block size with a count pre-pass."""
    pre = df.select(
        F.col(id_col),
        F.substring(F.col(text_col), 1, prefix_len).alias("pre"),
        F.array_join(
            F.slice(F.split(F.trim(F.substring(F.col(text_col), 1, prefix_len)), r"\s+"), 1, 2),
            " ",
        ).alias("blk"),
    )
    a = pre.select(
        F.col(id_col).alias("id_a"), F.col("pre").alias("pre_a"), "blk"
    )
    b = pre.select(
        F.col(id_col).alias("id_b"), F.col("pre").alias("pre_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein(F.col("pre_a"), F.col("pre_b")))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )
