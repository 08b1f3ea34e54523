"""Byte-level BPE with regex pre-tokenization (Radford et al. 2019,
"Language Models are Unsupervised Multitask Learners" — the GPT-2
tokenizer; public knowledge).  The tokenizer frontier pipelines actually
run: text is split by a GPT-2-style regex into PRE-TOKENS (contractions,
space-prefixed letter/digit/punctuation runs, whitespace runs), each
pre-token is mapped to its UTF-8 BYTES, each byte to a printable stand-in
character (``bytes_to_unicode`` — the table that makes ``Ġ`` the space
marker), and BPE merges are learned over that 256-symbol byte alphabet.
Consequences the character-level tokenizer (``pipeline/bpe.py``) cannot
offer:

* **No OOV, ever** — every string is a byte sequence and all 256 byte
  symbols are in the base vocabulary, so encode is total and
  ``byte_bpe_decode(byte_bpe_encode(x)) == x`` EXACTLY (not
  whitespace-normalized: the pre-tokenizer's branches cover every
  character class, so the pre-token concatenation is the input).
* Merges never cross pre-token boundaries (the regex is the merge
  firewall GPT-2 uses instead of whitespace).

Pre-tokenizer spec: the GPT-2 pattern WITHOUT its ``\\s+(?!\\S)``
lookahead branch, and with whitespace as the EXPLICIT class
``[\\t\\n\\x0b\\f\\r ]`` (Java's ``\\s`` set spelled out — RE2's
``\\s`` excludes U+000B and the two engines must tokenize
identically).  The authoritative pattern string is the
``GPT2_SPLIT_PATTERN`` constant below — copy it, not this prose.

RE2 (DuckDB's regex engine, hence the driver oracle) does not support
lookahead, so this repo's spec drops it; the only divergence from GPT-2
is that an interior whitespace RUN keeps its last space instead of
donating it to the following token ("a  b" → ["a", "  ", "b"] here vs
["a", " ", " b"] in GPT-2).  Tokenization stays exhaustive and lossless
— the property the round-trip entry proves — and Java regex (Spark) and
RE2 (DuckDB) produce identical token streams for this pattern
(cross-engine parity is fuzz-locked in ``tests/test_byte_bpe.py``).
Exact GPT-2 lookahead semantics are available OPT-IN as
``pretokenizer="gpt2"`` (``GPT2_SPLIT_PATTERN_LOOKAHEAD`` — Spark-side
only, not oracle-able; the divergence table is pinned in
``tests/test_byte_bpe.py``).  The GPT-2-exactness claim holds for
ASCII-whitespace inputs: BOTH modes keep the explicit ASCII whitespace
class, while the regex-module ``\\s`` GPT-2 actually uses also matches
Unicode whitespace (NBSP, NEL, ogham/en/em/thin spaces, line/paragraph
separators, ideographic space — and the original ``regex``-module
implementation vs tiktoken's Rust port already disagree at the margins,
e.g. U+001C-U+001F).  Here those characters fall into the punctuation
branch in both modes (pinned in the divergence table), which keeps
Spark/DuckDB parity and losslessness but differs from real GPT-2 on
Unicode-whitespace inputs.

Distributed shape mirrors ``pipeline/bpe.py``: training state lives in
the DISTINCT pre-token table ``(word, freq, sym)`` — the byte mapping
runs once per distinct pre-token, never per corpus occurrence — and the
merge loop itself is ``bpe.train_from_words`` (alphabet-agnostic: byte
stand-in characters contain no literal space, the ``sym`` separator).
Encode touches the corpus once: pre-token explode → broadcast word-table
join (byte-split fallback makes it total) → one per-document regroup →
broadcast vocab join.  No reference analogue (the reference has no
text processing; its SQL surface stops at LIKE-contains,
``sql/NestedCondition.java:173-188``).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: GPT-2 split pattern, lookahead-free (see module docstring).  One
#: string, valid and IDENTICAL in Java regex and RE2 — whitespace is the
#: EXPLICIT class [\t\n\x0b\f\r ] rather than \s because the engines
#: disagree on \s exactly at U+000B (Java includes vertical tab, RE2
#: does not; review r9 verified 'a\x0b\x0b b' tokenizing differently
#: under \s).  The explicit class is Java's \s set, so Spark behavior
#: is unchanged and DuckDB now matches it.
GPT2_SPLIT_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+"
    r"| ?[^\t\n\x0b\f\r \p{L}\p{N}]+|[\t\n\x0b\f\r ]+"
)

#: The EXACT GPT-2 pattern (VERDICT r9 ask #6): adds back the
#: ``\s+(?!\S)`` lookahead branch the RE2-safe spec drops, so an interior
#: whitespace run donates its last space to the following token
#: ("a  b" → ["a", " ", " b"]), byte-identical to the reference GPT-2
#: tokenizer for ASCII-WHITESPACE inputs (the regex-module ``\s`` GPT-2
#: uses also matches Unicode whitespace — U+00A0 NBSP, U+0085 NEL,
#: U+2000-U+200A, U+2028/29, U+3000 — which BOTH modes here route
#: through the punctuation branch instead; see the module docstring and
#: the pinned
#: Unicode rows of the divergence table).  Java regex only — RE2
#: (DuckDB) has no lookahead, so this mode is opt-in
#: (``pretokenizer="gpt2"``) and CANNOT be driver-oracled; every oracled
#: entry stays on the spec pattern.  Whitespace is the same explicit
#: class as the spec pattern (Java's ``\s`` set).
GPT2_SPLIT_PATTERN_LOOKAHEAD = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+"
    r"| ?[^\t\n\x0b\f\r \p{L}\p{N}]+"
    r"|[\t\n\x0b\f\r ]+(?![^\t\n\x0b\f\r ])|[\t\n\x0b\f\r ]+"
)

_PATTERNS = {
    "spec": GPT2_SPLIT_PATTERN,
    "gpt2": GPT2_SPLIT_PATTERN_LOOKAHEAD,
}


def _pattern(pretokenizer: str) -> str:
    try:
        return _PATTERNS[pretokenizer]
    except KeyError:
        raise ValueError(
            f"pretokenizer must be one of {sorted(_PATTERNS)}, "
            f"got {pretokenizer!r}"
        ) from None


@lru_cache(maxsize=1)
def bytes_to_unicode() -> dict[int, str]:
    """GPT-2's byte → stand-in-character table: bytes that are printable
    in latin-1 ([33,126] ∪ [161,172] ∪ [174,255]) map to themselves,
    the remaining 68 (controls, space, DEL, NBSP, SHY) map to
    ``chr(256+k)`` in ascending byte order — so 0x20 → ``Ġ`` (chr 288),
    0x0A → ``Ċ``.  Every stand-in is one printable codepoint and none is
    a literal space, which is what makes space-joined ``sym`` safe."""
    printable = (
        list(range(33, 127)) + list(range(161, 173)) + list(range(174, 256))
    )
    table = {b: chr(b) for b in printable}
    k = 0
    for b in range(256):
        if b not in table:
            table[b] = chr(256 + k)
            k += 1
    return table


@lru_cache(maxsize=1)
def _hex_to_char() -> tuple[tuple[str, str], ...]:
    """(uppercase hex pair, stand-in char) for all 256 bytes — the key
    shape both engines produce (`hex(encode(s))` is uppercase in Spark
    AND DuckDB)."""
    return tuple(
        (f"{b:02X}", c) for b, c in sorted(bytes_to_unicode().items())
    )


def _literal_map(pairs) -> Column:
    """A string → string literal map built by ONE ``F.expr`` parse (one
    py4j round trip instead of one ``F.lit`` per key and per value)."""
    from .text import _qstr

    body = ", ".join(f"{_qstr(k)}, {_qstr(v)}" for k, v in pairs)
    return F.expr(f"map({body})")


def _hex_map() -> Column:
    """256-entry literal map hex-pair → stand-in char (constant;
    evaluated against vocab-sized tables, not the corpus)."""
    return _literal_map(_hex_to_char())


def _char_to_hex_map() -> Column:
    """The inverse literal map, for decode."""
    return _literal_map((c, hx) for hx, c in _hex_to_char())


def pre_tokens(col: Column, pretokenizer: str = "spec") -> Column:
    """The pre-token array of a text column (codegen regex, no UDF).
    ``pretokenizer`` picks the pattern: ``"spec"`` (default — the
    RE2-safe oracled pattern) or ``"gpt2"`` (exact GPT-2 lookahead
    semantics, Spark-side only)."""
    return F.regexp_extract_all(col, F.lit(_pattern(pretokenizer)), 0)


def byte_sym(col: Column) -> Column:
    """A pre-token's byte-level segmentation start state: UTF-8 bytes as
    space-joined stand-in characters (``hex(encode(…))`` sliced into
    pairs, each mapped through the 256-entry table — all JVM-side)."""
    pairs = F.regexp_extract_all(
        F.hex(F.encode(col, "UTF-8")), F.lit(".."), 0
    )
    m = _hex_map()
    return F.array_join(
        F.transform(pairs, lambda h: F.element_at(m, h)), " "
    )


def byte_word_table(
    docs: DataFrame, text_col: str = "text", pretokenizer: str = "spec"
) -> DataFrame:
    """Distinct pre-tokens with corpus frequencies and byte-level start
    segmentation ``(word, freq, sym)`` — the byte-level sibling of
    ``bpe.word_table``.  One map-side-combined shuffle (the pre-token
    groupBy); the byte mapping runs on the distinct table only."""
    words = (
        docs.select(
            F.explode(pre_tokens(F.col(text_col), pretokenizer)).alias(
                "word"
            )
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return words.withColumn("sym", byte_sym(F.col("word")))


def byte_bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    merges_per_round: int = 1,
    pretokenizer: str = "spec",
) -> tuple[DataFrame, DataFrame]:
    """Train byte-level BPE merges: the byte word table through the
    shared ``bpe.train_from_words`` loop (ranks, exact-BIGINT counts,
    count DESC / left ASC / right ASC tie-break, symbol-disjoint
    batching, the driver loop up to ``pipeline.DRIVER_COLLECT_CAP``
    pre-tokens and the localCheckpoint-truncated Spark loop above it —
    all identical to the character-level trainer, so the SQL oracle
    unrolls the same way).  Returns ``(merges, words)``."""
    from .bpe import train_from_words

    return train_from_words(
        byte_word_table(docs, text_col, pretokenizer),
        n_merges,
        merges_per_round,
    )


def byte_bpe_vocab(merges: DataFrame) -> DataFrame:
    """Token-id table ``(token, token_id)``: the 256 byte stand-ins take
    ids 0..255 in BYTE order (the GPT-2 convention — no corpus scan
    needed, unlike the character-level ``bpe_vocab``), merges take
    ``256 + merge_rank - 1``; a merged string that collides (two rule
    pairs can concatenate to the same string) keeps the smallest id."""
    from . import local_frame

    base = local_frame(
        merges.sparkSession,
        [(c, b) for b, c in sorted(bytes_to_unicode().items())],
        "token string, token_id long",
    )
    m = merges.select(
        F.col("merged").alias("token"),
        (F.lit(256) + F.col("merge_rank") - 1).cast("long").alias("token_id"),
    )
    return (
        base.unionByName(m)
        .groupBy("token")
        .agg(F.min("token_id").alias("token_id"))
    )


def apply_frozen_merges(
    unseen: DataFrame, merges: DataFrame, sym_col: str = "sym"
) -> DataFrame:
    """Apply a TRAINED merge table to byte segmentations the training
    never saw — the GPT-2 encode-time BPE step, rank order, each rule
    greedy-leftmost with exactly ``bpe.merge_fold``'s fold semantics
    (the merged token stays live as ``left`` for later symbols).

    Runs as ONE vectorized Pandas UDF over the (distinct, small) unseen
    pre-token table with the rule list frozen in the closure — the
    JVM-fold alternative costs a localCheckpoint job per few rules to
    bound expression nesting, which at a 32k-merge vocabulary is
    thousands of scheduler round-trips for a table of stragglers.  The
    per-rule pass is bit-equal to ``merge_fold`` (asserted in
    ``tests/test_byte_bpe.py``)."""
    rules = [
        (r["left"], r["right"])
        for r in merges.orderBy("merge_rank").collect()  # ≤ n_merges rows
    ]

    @F.pandas_udf("string")
    def fold(syms):
        import pandas as pd

        def one(s: str) -> str:
            toks = s.split(" ")
            for l, r in rules:
                out = [toks[0]]
                for x in toks[1:]:
                    if x == r and out[-1] == l:
                        out[-1] = l + r
                    else:
                        out.append(x)
                toks = out
            return " ".join(toks)

        return pd.Series([one(s) for s in syms])

    return unseen.withColumn(sym_col, fold(F.col(sym_col)))


def byte_bpe_encode(
    docs: DataFrame,
    words: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    pretokenizer: str = "spec",
    merges: DataFrame | None = None,
) -> DataFrame:
    """Encode documents to byte-level token-id sequences.  Total — no
    OOV mode knob: pre-tokens missing from the trained word table fall
    back to their byte segmentation, whose symbols are always in the
    base vocabulary (so unlike ``bpe_encode`` there is no word index to
    carry for decode either — ``byte_bpe_decode`` self-delimits on the
    byte stand-ins).  Shape: pre-token explode → word-table join
    (broadcast at scale: distinct pre-tokens ≪ corpus) → the shared
    ``bpe.densify_encode`` core (ONE doc-keyed regroup, positions from
    the flattened subword sequence, broadcast vocab join — see its
    docstring for the measured window-vs-regroup story).

    Fallback fidelity (ADVICE r9): with ``merges=None`` an unseen
    pre-token encodes as its RAW bytes — one id per byte.  That is
    lossless (decode still round-trips exactly) but NOT GPT-2-faithful:
    the reference tokenizer applies the frozen merge rules to unseen
    strings too, so raw-byte fallback inflates sequence length on
    out-of-corpus text.  Pass the trained ``merges`` table to apply the
    frozen rules to unseen pre-tokens (``apply_frozen_merges`` — one
    distinct-unseen-sized job); encoding the training corpus itself
    (every oracled entry) has no unseen pre-tokens, so both modes are
    identical there.

    ``pretokenizer`` must match training (``"spec"`` default;
    ``"gpt2"`` for exact lookahead semantics — Spark-side only)."""
    from .bpe import densify_encode

    dw = docs.select(
        F.col(doc_col),
        F.posexplode(pre_tokens(F.col(text_col), pretokenizer)).alias(
            "wpos", "word"
        ),
    )
    wtab = words.select("word", "sym")
    if merges is not None:
        unseen = (
            dw.select("word")
            .distinct()
            .join(wtab.select("word"), "word", "left_anti")
            .withColumn("sym", byte_sym(F.col("word")))
        )
        wtab = wtab.unionByName(apply_frozen_merges(unseen, merges))
        seg = dw.join(wtab, "word").select(F.col(doc_col), "wpos", "sym")
    else:
        seg = dw.join(wtab, "word", "left").select(
            F.col(doc_col),
            "wpos",
            F.coalesce("sym", byte_sym(F.col("word"))).alias("sym"),
        )
    return densify_encode(seg, vocab, doc_col)


def byte_subword_stats(
    docs: DataFrame,
    words: DataFrame,
    by: str = "lang",
    max_word_len: int | None = None,
) -> DataFrame:
    """Per-group fertility of a trained byte-level segmentation —
    ``bpe.subword_stats`` with the PRE-TOKEN as the token unit (the
    byte tokenizer's own unit; space-only pre-tokens are excluded so
    the unit stays comparable to whitespace words, and ``max_word_len``
    caps the RAW pre-token length, mirroring the unigram junk-word cap
    when tokenizers are compared side by side).  One corpus explode, a
    broadcast-sized segmentation join, exact integer sums."""
    inst = docs.select(
        F.col(by), F.explode(pre_tokens(F.col("text"))).alias("word")
    ).filter(F.trim(F.col("word")) != "")
    if max_word_len is not None:
        inst = inst.filter(F.length("word") <= max_word_len)
    nsub = words.select("word", F.size(F.split("sym", " ")).alias("n_sub"))
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


def byte_bpe_decode(
    encoded: DataFrame,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Invert ``byte_bpe_encode`` EXACTLY: per document, token strings
    concatenate in ``pos`` order (pre-tokens carry their own spaces —
    no separator), stand-in characters map back to hex, ``unhex`` +
    UTF-8 decode restores the original text byte for byte.  One
    doc-keyed combine; the per-character reverse mapping is bounded by
    document length and runs entirely JVM-side.  Unlike the
    character-level ``bpe_decode`` this needs no vocab join and no
    ``wpos``: the byte stand-ins self-delimit."""
    rev = _char_to_hex_map()
    bu = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "token"))),
            lambda x: x["token"],
        ),
        "",
    )
    per_doc = encoded.groupBy(doc_col).agg(bu.alias("__bu"))
    hexstr = F.array_join(
        F.transform(
            F.filter(F.split("__bu", ""), lambda c: c != ""),
            lambda c: F.element_at(rev, c),
        ),
        "",
    )
    return per_doc.select(
        F.col(doc_col),
        F.decode(F.unhex(hexstr), "UTF-8").alias("text"),
    )
