"""Byte-level BPE (pipeline/byte_bpe.py): byte-table spec pins,
cross-engine pre-tokenizer parity (the property the DuckDB oracles
stand on), a python-spec training replica, and the exact round-trip
property (decode(encode(x)) == x, byte for byte)."""

import os
import sys

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

pytestmark = pytest.mark.oracle

FUZZ = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# mixed-class fuzz alphabet: contractions, digits, punctuation, 2- and
# 3-byte UTF-8, a 3-byte symbol (So — neither letter nor number), plus
# varied whitespace separators (incl. runs and U+000B — the character
# where Java \\s and RE2 \\s disagree; the explicit class must agree)
_PIECES = ["the", "it's", "can't", "42", "3.14", "—", "héllo…", "⚡", "a", "{x}"]
_SEPS = [" ", "  ", "\n", "\t", " \n ", "\x0b", " \x0b\x0b "]

text_strategy = st.lists(
    st.tuples(st.sampled_from(_PIECES), st.sampled_from(_SEPS)),
    min_size=0,
    max_size=6,
).map(lambda ps: "".join(p + s for p, s in ps).rstrip() or "x")
corpus_strategy = st.lists(text_strategy, min_size=1, max_size=5)


def _df(spark, docs):
    return spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )


def _duck_pretok(text: str) -> list[str]:
    """DuckDB (RE2) pre-tokenization — the oracle engine's view."""
    from interference_spark.pipeline.byte_bpe import GPT2_SPLIT_PATTERN

    return duckdb.execute(
        "SELECT regexp_extract_all(?, ?)", [text, GPT2_SPLIT_PATTERN]
    ).fetchone()[0]


def test_bytes_to_unicode_table_spec():
    from interference_spark.pipeline.byte_bpe import bytes_to_unicode

    t = bytes_to_unicode()
    assert len(t) == 256
    assert len(set(t.values())) == 256  # injective
    assert t[0x20] == "Ġ" and t[0x0A] == "Ċ" and t[0x09] == "ĉ"
    assert t[ord("A")] == "A" and t[ord("z")] == "z"
    assert all(len(c) == 1 and c != " " for c in t.values())
    # the 68 non-printables take 256..323 in ascending byte order
    shifted = [b for b in range(256) if ord(t[b]) >= 256]
    assert [ord(t[b]) for b in shifted] == list(
        range(256, 256 + len(shifted))
    )


@given(text=text_strategy)
@FUZZ
def test_pre_tokenizer_cross_engine_parity_and_lossless(spark, text):
    """Java regex (Spark) and RE2 (DuckDB) must produce the identical
    pre-token stream, and its concatenation must be the input — the two
    facts the byte-BPE oracles and the round-trip entry rest on."""
    import pyspark.sql.functions as F

    from interference_spark.pipeline.byte_bpe import GPT2_SPLIT_PATTERN

    got = (
        spark.range(1)
        .select(
            F.regexp_extract_all(
                F.lit(text), F.lit(GPT2_SPLIT_PATTERN), 0
            ).alias("t")
        )
        .collect()[0]["t"]
    )
    want = _duck_pretok(text)
    assert got == want, text
    assert "".join(got) == text


def _bpe_py(corpus: list[str], n_merges: int):
    """Driver-side replica of byte-level BPE: DuckDB pre-tokenization,
    GPT-2 byte stand-ins, then the textbook count→argmax→greedy-fold
    loop with the repo tie-break (cnt DESC, l ASC, r ASC)."""
    from interference_spark.pipeline.byte_bpe import bytes_to_unicode

    table = bytes_to_unicode()
    freqs: dict[str, int] = {}
    for d in corpus:
        for t in _duck_pretok(d):
            freqs[t] = freqs.get(t, 0) + 1
    segs = {
        w: [table[b] for b in w.encode("utf-8")] for w in freqs
    }
    rules = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, f in freqs.items():
            s = segs[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        l, r, c = sorted(
            ((l, r, c) for (l, r), c in counts.items()),
            key=lambda t: (-t[2], t[0], t[1]),
        )[0]
        rules.append((rank, l, r, l + r, c))
        for w, s in segs.items():
            out = []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            segs[w] = out
    return rules, segs


@pytest.mark.parametrize("path", ["driver", "spark_loop"])
@given(corpus=corpus_strategy, n_merges=st.integers(1, 5))
@FUZZ
def test_byte_bpe_train_matches_python_spec(spark, path, corpus, n_merges):
    """Both training paths — the driver loop, and the Spark loop with
    the cap lowered to 0 — equal the Python replica."""
    from interference_spark import pipeline
    from interference_spark.pipeline.byte_bpe import byte_bpe_train

    rules, segs = _bpe_py(corpus, n_merges)
    with pytest.MonkeyPatch.context() as mp:
        if path == "spark_loop":
            mp.setattr(pipeline, "DRIVER_COLLECT_CAP", 0)
        merges, words = byte_bpe_train(_df(spark, corpus), n_merges=n_merges)
        got_rules = [
            (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
            for r in merges.orderBy("merge_rank").collect()
        ]
        got_segs = {r.word: r.sym.split(" ") for r in words.collect()}
    assert got_rules == rules, (corpus, n_merges)
    assert got_segs == segs, (corpus, n_merges)


@pytest.mark.parametrize("path", ["driver", "spark_loop"])
@given(corpus=corpus_strategy, n_merges=st.integers(0, 5))
@FUZZ
def test_round_trip_exact(spark, path, corpus, n_merges):
    """decode(encode(x)) == x EXACTLY for arbitrary mixed-class text —
    whitespace runs, tabs, newlines, and multi-byte UTF-8 included — with
    the tokenizer trained on either path."""
    from interference_spark import pipeline
    from interference_spark.pipeline.byte_bpe import (
        byte_bpe_decode,
        byte_bpe_encode,
        byte_bpe_train,
        byte_bpe_vocab,
    )

    docs = _df(spark, corpus)
    with pytest.MonkeyPatch.context() as mp:
        if path == "spark_loop":
            mp.setattr(pipeline, "DRIVER_COLLECT_CAP", 0)
        merges, words = byte_bpe_train(docs, n_merges=n_merges)
        enc = byte_bpe_encode(docs, words, byte_bpe_vocab(merges))
        got = {r.doc_id: r.text for r in byte_bpe_decode(enc).collect()}
    assert got == dict(enumerate(corpus)), corpus


def test_vocab_ids_byte_value_base_and_collision_min(spark):
    """Base stand-ins take their BYTE value as id; merges take
    256+rank-1; a merged-string collision keeps the smallest id."""
    from interference_spark.pipeline.byte_bpe import (
        byte_bpe_vocab,
        bytes_to_unicode,
    )

    merges = spark.createDataFrame(
        [(1, "a", "bc", "abc", 9), (2, "ab", "c", "abc", 7)],
        "merge_rank long, left string, right string, merged string,"
        " pair_count long",
    )
    ids = {r.token: r.token_id for r in byte_bpe_vocab(merges).collect()}
    assert len(ids) == 257  # 256 base + one deduped merge
    assert ids["abc"] == 256  # min(256, 257)
    t = bytes_to_unicode()
    assert ids[t[0x20]] == 0x20 and ids["A"] == ord("A")
    assert ids[t[0]] == 0


def test_encode_unseen_pretoken_falls_back_to_bytes(spark):
    """Encode is TOTAL: a pre-token absent from the trained word table
    segments to raw bytes (base vocab) instead of being dropped."""
    from interference_spark.pipeline.byte_bpe import (
        byte_bpe_decode,
        byte_bpe_encode,
        byte_bpe_train,
        byte_bpe_vocab,
    )

    train = _df(spark, ["the the fast fast"])
    merges, words = byte_bpe_train(train, n_merges=3)
    new = _df(spark, ["the zebra⚡ fast"])
    enc = byte_bpe_encode(new, words, byte_bpe_vocab(merges))
    assert enc.filter("token_id IS NULL").count() == 0
    got = byte_bpe_decode(enc).collect()[0].text
    assert got == "the zebra⚡ fast"


def test_encode_fallback_applies_frozen_merges(spark):
    """ADVICE r9: with ``merges=`` passed, unseen pre-tokens get the
    frozen rules applied (GPT-2-faithful encode) — shorter sequences
    than the raw-byte fallback, identical round trip, and bit-equal to
    what training-time segmentation would have produced for the same
    string (the merge_fold parity claim)."""
    import pyspark.sql.functions as F

    from interference_spark.pipeline.byte_bpe import (
        apply_frozen_merges,
        byte_bpe_decode,
        byte_bpe_encode,
        byte_bpe_train,
        byte_bpe_vocab,
        byte_word_table,
    )

    # ' th' merges are learned from the training corpus; 'thorn' is
    # unseen but shares the ' th' prefix the rules compress
    train = _df(spark, ["the the the thin thin fast"])
    merges, words = byte_bpe_train(train, n_merges=4)
    vocab = byte_bpe_vocab(merges)
    new = _df(spark, ["the thorn fast"])
    raw = byte_bpe_encode(new, words, vocab)
    faithful = byte_bpe_encode(new, words, vocab, merges=merges)
    assert faithful.count() < raw.count()  # rules compressed the unseen token
    assert faithful.filter("token_id IS NULL").count() == 0
    assert byte_bpe_decode(faithful).collect()[0].text == "the thorn fast"
    # merge_fold parity: applying the frozen rules to the TRAINING
    # corpus' own raw byte segmentations reproduces the training-time
    # segmentation table exactly (same fold semantics, rank order)
    start = byte_word_table(train).select(
        "word", F.col("sym").alias("sym0")
    )
    refolded = apply_frozen_merges(
        start.withColumnRenamed("sym0", "sym"), merges
    )
    trained = words.select("word", F.col("sym").alias("sym_trained"))
    diff = refolded.join(trained, "word").filter(
        "sym != sym_trained"
    )
    assert diff.count() == 0


# the documented spec-vs-GPT-2 divergence table (VERDICT r9 ask #6):
# interior whitespace runs donate their last space under lookahead
_DIVERGENCE_CASES = [
    ("a  b", ["a", "  ", "b"], ["a", " ", " b"]),
    ("a \t b", ["a", " \t ", "b"], ["a", " \t", " b"]),
    # tabs/newlines: the letter branch only absorbs a literal SPACE
    # prefix (` ?\p{L}+`), so under lookahead the run splits into
    # single-whitespace tokens and the word stays bare — GPT-2's actual
    # behavior, not ["a", "\t", "\tb"]
    ("a\t\tb", ["a", "\t\t", "b"], ["a", "\t", "\t", "b"]),
    ("a\n\nb", ["a", "\n\n", "b"], ["a", "\n", "\n", "b"]),
    ("a\x0b\x0b b", ["a", "\x0b\x0b ", "b"], ["a", "\x0b\x0b", " b"]),
    # trailing whitespace: no following token, both modes keep the run
    ("ab  ", ["ab", "  "], ["ab", "  "]),
    # single interior space: consumed by the following word in BOTH
    ("a b", ["a", " b"], ["a", " b"]),
    # contractions split identically in both modes
    ("don't we'll", ["don", "'t", " we", "'ll"], ["don", "'t", " we", "'ll"]),
    ("it's  99", ["it", "'s", "  ", "99"], ["it", "'s", " ", " 99"]),
    # Unicode whitespace (review r10): BOTH modes keep the explicit ASCII
    # whitespace class, so NBSP/NEL/em-space land in the punctuation
    # branch — stable and lossless here, but real GPT-2 (regex-module
    # \s) treats them as whitespace; e.g. GPT-2 splits "a \xa0b" as
    # ["a", " ", "\xa0", "b"].  The gpt2 mode's exactness claim is
    # scoped to ASCII-whitespace inputs (module docstring).
    ("a\xa0b", ["a", "\xa0", "b"], ["a", "\xa0", "b"]),
    ("a \xa0b", ["a", " \xa0", "b"], ["a", " \xa0", "b"]),
    ("a\xa0\xa0 b", ["a", "\xa0\xa0", " b"], ["a", "\xa0\xa0", " b"]),
    ("a\u2003\u2003b", ["a", "\u2003\u2003", "b"], ["a", "\u2003\u2003", "b"]),
    ("a\x85b", ["a", "\x85", "b"], ["a", "\x85", "b"]),
]


@pytest.mark.parametrize("text,spec_want,gpt2_want", _DIVERGENCE_CASES)
def test_pretokenizer_gpt2_divergence_table(spark, text, spec_want, gpt2_want):
    """Opt-in ``pretokenizer="gpt2"`` (VERDICT r9 ask #6): the Java-regex
    lookahead branch reproduces exact GPT-2 splits on every documented
    divergence case; the RE2-safe spec stays the (oracled) default; both
    modes remain lossless (concatenation == input)."""
    import pyspark.sql.functions as F

    from interference_spark.pipeline.byte_bpe import pre_tokens

    row = (
        spark.range(1)
        .select(
            pre_tokens(F.lit(text)).alias("spec"),
            pre_tokens(F.lit(text), "gpt2").alias("gpt2"),
        )
        .collect()[0]
    )
    assert row["spec"] == spec_want, text
    assert row["gpt2"] == gpt2_want, text
    assert "".join(row["spec"]) == text and "".join(row["gpt2"]) == text


def test_pretokenizer_unknown_rejected(spark):
    import pyspark.sql.functions as F

    from interference_spark.pipeline.byte_bpe import pre_tokens

    with pytest.raises(ValueError, match="pretokenizer"):
        pre_tokens(F.lit("x"), "bert")
