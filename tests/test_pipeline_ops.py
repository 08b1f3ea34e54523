"""Direct unit tests for pipeline operators whose interesting cases the
synthetic corpus doesn't exercise (e.g. long-diameter components)."""

import re

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def cc(spark):
    from interference_spark.pipeline.dedup import connected_components

    def run(edges):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return {
            (r.id, r.cluster_id) for r in connected_components(df).collect()
        }

    return run


def test_cc_chain_converges(cc):
    # 0-1-2-3-4-5: diameter 5 forces multiple propagation rounds
    got = cc([(i, i + 1) for i in range(5)])
    assert got == {(i, 0) for i in range(6)}


def test_cc_two_components(cc):
    got = cc([(1, 2), (2, 3), (10, 11)])
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_cc_clique_and_singleton_absent(cc):
    # clique {5,6,7}; nodes not in any edge don't appear (dedup_clusters
    # backfills singletons with their own id)
    got = cc([(5, 6), (6, 7), (5, 7)])
    assert got == {(5, 5), (6, 5), (7, 5)}


def test_dedup_clusters_backfills_singletons(spark):
    from interference_spark.pipeline.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = {(r.doc_id, r.cluster_id) for r in dedup_clusters(docs, pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 3)}


def test_salted_join_matches_plain_join(spark):
    from interference_spark.pipeline.skew import salted_join

    # hot key: 90% of left rows share key 7
    left = spark.createDataFrame(
        [(7 if i % 10 else i, i) for i in range(1000)], "k int, v long"
    )
    right = spark.createDataFrame([(i, f"r{i}") for i in range(10)], "k int, name string")
    plain = {(r.k, r.v, r.name) for r in left.join(right, "k").collect()}
    salted = {
        (r.k, r.v, r.name)
        for r in salted_join(left, right, "k", salt=8).collect()
    }
    # k=7 (900 hot rows) + k=0 (one row) match right's keys 0..9
    assert salted == plain and len(plain) == 901


def test_salted_join_left_outer(spark):
    from interference_spark.pipeline.skew import salted_join

    left = spark.createDataFrame([(1, "a"), (99, "b")], "k int, v string")
    right = spark.createDataFrame([(1, "x")], "k int, w string")
    rows = {
        (r.k, r.v, r.w)
        for r in salted_join(left, right, "k", how="left", salt=4).collect()
    }
    assert rows == {(1, "a", "x"), (99, "b", None)}


def test_sliding_window_dist_matches_single_task(spark, monkeypatch):
    from interference_spark.plans import window_dist
    from interference_spark.plans.window_dist import (
        _single_task,
        sliding_count_window,
    )

    df = spark.createDataFrame(
        [(i, i % 7, float(i % 13)) for i in range(500)],
        "eid long, uid long, val double",
    )
    items = [("COUNT", "eid", "cnt"), ("SUM", "uid", "s"), ("MIN", "val", "m")]
    # a zero byte cutoff forces the distributed path at test scale
    monkeypatch.setattr(window_dist, "SINGLE_TASK_MAX_BYTES", 0)
    dist = sliding_count_window(df, "eid", items, n=5, num_partitions=8)
    single = _single_task(df, "eid", items, n=5)
    assert [tuple(r) for r in dist.collect()] == [tuple(r) for r in single.collect()]
    assert dist.count() == 496


def test_sliding_window_falls_back_on_tiny_input(spark):
    from interference_spark.plans.window_dist import sliding_count_window

    df = spark.createDataFrame([(i, i) for i in range(6)], "eid long, v long")
    out = sliding_count_window(df, "eid", [("SUM", "v", "s")], n=5, num_partitions=8)
    assert [r.s for r in out.collect()] == [0 + 1 + 2 + 3 + 4, 1 + 2 + 3 + 4 + 5]


def test_co_partitioned_join_adds_no_extra_exchange(spark):
    from interference_spark.pipeline.partitioning import co_partitioned_join

    left = spark.range(0, 10000).withColumnRenamed("id", "k")
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS w")
    joined = co_partitioned_join(left, right, "k", num_partitions=8)
    assert joined.count() == 1000
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # exactly the two explicit repartition exchanges, none added by the join
    assert plan.count("Exchange hashpartitioning") == 2


def test_ngram_prefix_filter_is_lossless(spark, engine, monkeypatch):
    """Both exact Jaccard plans — bit-packed all-pairs (small vocabulary,
    the default here) and the prefix-filtered join (cap patched below the
    vocabulary) — return exactly the pairs a pure-Python char-trigram
    Jaccard finds, on a hand corpus and on real documents."""
    from itertools import combinations

    from interference_spark.pipeline import dedup

    def py_grams(t, n=3):
        return {t[i : i + n] for i in range(max(len(t) - n + 1, 1))}

    def py_pairs(rows, t):
        g = {i: py_grams(x) for i, x in rows}
        out = set()
        for a, b in combinations(sorted(g), 2):
            j = len(g[a] & g[b]) / len(g[a] | g[b])
            if j >= t:
                out.add((a, b, j))
        return out

    hand = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumped over the lazy dog"),
        (3, "pack my box with five dozen liquor jugs"),
        (4, "pack my box with five dozen liquor jug"),
        (5, "completely unrelated text about spark engines"),
    ]
    real = [
        (r.doc_id, r.text)
        for r in engine.table("documents")
        .orderBy("doc_id")
        .limit(80)
        .collect()
    ]
    default_cap = dedup.BITMAP_VOCAB_CAP
    for rows, t in ((hand, 0.6), (real, 0.5)):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        want = py_pairs(rows, t)
        assert want, t
        for cap, bitmap in ((default_cap, True), (1, False)):
            monkeypatch.setattr(dedup, "BITMAP_VOCAB_CAP", cap)
            out = dedup.ngram_jaccard_pairs(docs, threshold=t)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert ("BroadcastNestedLoopJoin" in plan) == bitmap, plan[:2000]
            got = {(r.id_a, r.id_b, r.jaccard) for r in out.collect()}
            assert got == want, (t, cap)
    assert {(a, b) for a, b, _ in py_pairs(hand, 0.6)} == {(1, 2), (3, 4)}


def test_ngram_candidate_volume_guard(spark, monkeypatch):
    """VERDICT r9 ask #3: the exact Jaccard paths fail FAST with a typed
    error naming the MinHash-LSH sibling when the estimated candidate
    volume exceeds the caller's budget; a generous budget is a no-op
    (identical pairs), and the guard covers both exact plans."""
    import pytest

    from interference_spark.pipeline import dedup
    from interference_spark.pipeline.dedup import (
        CandidateVolumeExceeded,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumped over the lazy dog"),
            (3, "pack my box with five dozen liquor jugs"),
            (4, "pack my box with five dozen liquor jug"),
            (5, "completely unrelated text about spark engines"),
        ],
        "doc_id long, text string",
    )
    # generous budget: identical output to the unguarded call
    ungated = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    gated = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, threshold=0.6, max_candidate_pairs=10_000_000
        ).collect()
    }
    assert gated == ungated == {(1, 2), (3, 4)}
    # tiny gram alphabet -> bitmap all-pairs plan: N*(N-1)/2 = 10 > 3
    with pytest.raises(CandidateVolumeExceeded, match="funnel_v3"):
        ngram_jaccard_pairs(docs, threshold=0.6, max_candidate_pairs=3)
    # large-alphabet corpus -> prefix-filtered plan (force it past the
    # bitmap cap), budget of 1 pair trips on any shared prefix gram
    big = docs.withColumn(
        "text", F.concat_ws(" ", *[F.col("text")] * 3)
    )
    monkeypatch.setattr(dedup, "BITMAP_VOCAB_CAP", 1)
    with pytest.raises(CandidateVolumeExceeded, match="MinHash-LSH"):
        ngram_jaccard_pairs(big, threshold=0.6, max_candidate_pairs=1)
    with pytest.raises(ValueError, match="max_candidate_pairs"):
        ngram_jaccard_pairs(docs, max_candidate_pairs=0)


def test_ivf_recall_vs_exact(spark):
    from interference_spark.inventory import engine_for
    from interference_spark.pipeline.similarity import (
        cosine_topk,
        ivf_search_exact,
    )
    from pyspark.sql import functions as F

    emb = engine_for(spark, "/root/testdata/sf0.001").table("embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = {r.vec_id for r in cosine_topk(corpus, qvec, k=10).collect()}
    approx = {
        r.vec_id
        for r in ivf_search_exact(
            corpus, qvec, k=10, nprobe=4, n_centroids=16
        ).collect()
    }
    # nprobe=4/16 of a near-random corpus: demand at least half the true top-k
    assert len(exact & approx) >= 5


def test_as_of_join_backward_inclusive(spark):
    from interference_spark.plans.asof import as_of_join

    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (1, 5, "l0"), (2, 7, "l3")],
        "k int, t long, lv string",
    )
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (2, 9, "r9")],
        "k int, t long, rv string",
    )
    out = {
        (r.k, r.t, r.lv, r.rv, r.t_r)
        for r in as_of_join(left, right, "k", "t", "t").collect()
    }
    assert out == {
        (1, 5, "l0", None, None),        # nothing at or before t=5
        (1, 10, "l1", "r10", 10),        # inclusive at equal ts
        (1, 20, "l2", "r15", 15),        # latest prior
        (2, 7, "l3", None, None),        # key 2 right row is later
    }


def test_kmv_estimate_accuracy(spark):
    from interference_spark.pipeline.sketch import kmv_distinct_count

    df = spark.range(0, 20000).selectExpr("id % 5000 AS u")  # 5000 distinct
    est = kmv_distinct_count(df, "u", k=256).first().est_distinct
    assert abs(est - 5000) / 5000 < 0.15  # ~1/sqrt(254) ≈ 6% expected


def test_kmv_exact_below_k(spark):
    from interference_spark.pipeline.sketch import kmv_distinct_count

    df = spark.range(0, 1000).selectExpr("id % 40 AS u")
    assert kmv_distinct_count(df, "u", k=64).first().est_distinct == 40.0


@pytest.mark.slow
def test_sliding_window_dist_property(spark, monkeypatch):
    """Randomized equivalence: distributed vs single-task frames across
    awkward shapes (empty, n=1, n≈rows, rows<n, many empty splits)."""
    import random

    from interference_spark.plans import window_dist
    from interference_spark.plans.window_dist import (
        _single_task,
        sliding_count_window,
    )

    monkeypatch.setattr(window_dist, "SINGLE_TASK_MAX_BYTES", 0)

    rng = random.Random(7)
    for _ in range(8):
        rows = rng.choice([0, 1, 5, 37, 120])
        n = rng.choice([1, 2, 5, 30])
        parts = rng.choice([1, 3, 8, 16])
        df = spark.createDataFrame(
            [(i, i % 5) for i in range(rows)], "eid long, v long"
        )
        items = [("SUM", "v", "s"), ("COUNT", "eid", "c")]
        dist = sliding_count_window(
            df, "eid", items, n=n, num_partitions=parts
        ).collect()
        single = _single_task(df, "eid", items, n=n).collect()
        assert [tuple(r) for r in dist] == [tuple(r) for r in single], (
            rows, n, parts,
        )


def test_cms_exact_when_collision_free(spark):
    """3 distinct values in 64 buckets × 4 depths: min-over-depth recovers
    the exact counts, and the heavy-hitter threshold is applied correctly."""
    from interference_spark.pipeline.sketch import cms_heavy_hitters

    data = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 5
    df = spark.createDataFrame(data, "v string").repartition(8)
    # frac_den=2 → threshold 85/2: only "a" (50) qualifies
    hh = {r["v"]: r["est_count"] for r in
          cms_heavy_hitters(df, "v", width=64, depth=4, frac_den=2).collect()}
    assert hh == {"a": 50}


def test_cms_estimate_is_upper_bound(spark):
    """Tiny width forces collisions; CMS must only ever over-estimate."""
    from interference_spark.pipeline.sketch import cms_heavy_hitters

    df = spark.range(0, 2000).selectExpr("CAST(id % 97 AS STRING) AS v")
    est = {r["v"]: r["est_count"] for r in
           cms_heavy_hitters(df, "v", width=8, depth=2, frac_den=10**6).collect()}
    exact = {r["v"]: r["n"] for r in
             df.groupBy("v").agg(F.count("*").alias("n")).collect()}
    assert set(est) == set(exact)
    assert all(est[v] >= exact[v] for v in exact)


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key into the same bucket count:
    the merge join runs with no Exchange (shuffle) on either side."""
    from interference_spark.pipeline.partitioning import write_bucketed

    a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS x")
    b = spark.range(0, 500).selectExpr("id AS k", "id * 3 AS y")
    try:
        ta = write_bucketed(a, "t_buck_a", "k", 8, path=str(tmp_path / "a"))
        tb = write_bucketed(b, "t_buck_b", "k", 8, path=str(tmp_path / "b"))
        j = ta.join(tb.hint("merge"), "k")  # pin SMJ (no broadcast shortcut)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 500
        got = {(r.k, r.x, r.y) for r in j.collect()}
        assert got == {(i, 2 * i, 3 * i) for i in range(500)}
    finally:
        spark.sql("DROP TABLE IF EXISTS t_buck_a")
        spark.sql("DROP TABLE IF EXISTS t_buck_b")


def test_word_ngrams_short_doc_guard(spark):
    # sequence(1, 0) counts DOWN in Spark — the explicit guard must yield
    # an EMPTY gram list for docs shorter than n, not bogus slices
    from interference_spark.pipeline.text import word_ngrams

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "a"), (4, "")], "id long, text string"
    )
    out = {r["id"]: r["g"] for r in
           df.select("id", word_ngrams(F.col("text"), 3).alias("g")).collect()}
    assert out[1] == ["a b c"]
    assert out[2] == [] and out[3] == []


def test_repetition_features_hand_case(spark):
    from interference_spark.pipeline.text import repetition_features

    # "x x y": words 3, distinct 2, top 2; bigrams: "x x","x y" → no dups
    df = spark.createDataFrame([(1, "x x y")], "doc_id long, text string")
    r = repetition_features(df).collect()[0]
    assert r["n_words"] == 3
    assert r["dup_word_ratio"] == pytest.approx(1 / 3)
    assert r["top_word_ratio"] == pytest.approx(2 / 3)
    assert r["dup_bigram_ratio"] == 0.0


def test_contaminated_doc_ids(spark):
    from interference_spark.pipeline.text import contaminated_doc_ids

    ev = spark.createDataFrame(
        [(100, "one two three four shared tail here ok")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [
            (1, "one two three four shared tail here ok plus extra"),  # hit
            (2, "totally different words with no overlap at all hmm"),  # miss
            (3, "short doc"),  # shorter than n → no grams → miss
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in contaminated_doc_ids(cand, ev, n=8).collect()}
    assert got == {1}

def test_exact_group_percentiles_property(spark):
    """Histogram-cumulation percentiles == brute-force sorted-rank picks."""
    import math
    import random

    from interference_spark.pipeline.stats import exact_group_percentiles

    rnd = random.Random(7)
    rows = [
        (f"g{rnd.randrange(3)}", float(rnd.randrange(40)))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r["k"]: (r["n_rows"], r["p50"], r["p90"], r["p99"])
        for r in exact_group_percentiles(df, ("k",), "v").collect()
    }
    by_k: dict[str, list[float]] = {}
    for k, v in rows:
        by_k.setdefault(k, []).append(v)
    for k, vals in by_k.items():
        vals.sort()
        n = len(vals)
        want = tuple(vals[max(0, math.ceil(p * n) - 1)] for p in (0.5, 0.9, 0.99))
        assert got[k] == (n, *want), k

def test_time_partitioned_scan_prunes_days(spark, tmp_path):
    """write_time_partitioned + a date predicate on the partition column:
    the range becomes a PartitionFilter (directory pruning), and results
    match the unpartitioned filter exactly."""
    import re

    from interference_spark.inventory import engine_for
    from interference_spark.pipeline.partitioning import write_time_partitioned

    ev = engine_for(spark, "/root/testdata/sf0.001").table("events")
    path = str(tmp_path / "ev_by_day")
    write_time_partitioned(ev, path, "ts", granularity="day")

    part = spark.read.parquet(path)
    lo, hi = "2024-01-10", "2024-01-12"
    got = part.filter(
        (F.col("__bucket") >= lo) & (F.col("__bucket") < hi)
    ).select("event_id")
    plan = got._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "__bucket" in m.group(1), plan
    want = ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).select("event_id")
    assert sorted(r.event_id for r in got.collect()) == sorted(
        r.event_id for r in want.collect()
    )


# ------------------------------------------------------------ multimodal real
def _png_fixture_df(spark, shapes):
    """Media rows whose payloads are REAL encoded PNGs (random RGB)."""
    import numpy as np

    from interference_spark.pipeline.multimodal import MEDIA_SCHEMA
    from interference_spark.pipeline.png import encode_png

    rng = np.random.RandomState(11)
    rows = [
        (
            i,
            "image",
            bytearray(encode_png(rng.randint(0, 256, s, dtype=np.uint8))),
            "image/png",
            {"w": str(s[1]), "h": str(s[0])},
        )
        for i, s in enumerate(shapes)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_png_codec_roundtrip():
    import numpy as np

    from interference_spark.pipeline.png import (
        decode_png,
        encode_png,
        png_dims,
        resize_nearest,
    )

    rng = np.random.RandomState(3)
    for shape in [(13, 17, 3), (8, 8, 4), (5, 9, 1), (6, 4, 2)]:
        a = rng.randint(0, 256, size=shape, dtype=np.uint8)
        data = encode_png(a)
        assert png_dims(data) == (shape[1], shape[0])
        b = decode_png(data)
        assert b.shape == a.shape and (b == a).all()
    r = resize_nearest(rng.randint(0, 256, (10, 6, 3), dtype=np.uint8), 2)
    assert r.shape == (5, 3, 3)


def test_mm_resize_real_decoder_produces_real_dimensions(spark):
    """VERDICT r2 #6: decoder="real" genuinely decodes + resizes PNGs —
    output payloads are valid PNGs at half dimensions."""
    from interference_spark.pipeline.multimodal import resize
    from interference_spark.pipeline.png import decode_png, png_dims

    shapes = [(16, 24, 3), (9, 7, 3), (32, 8, 4)]
    media = _png_fixture_df(spark, shapes)
    out = {r["media_id"]: r for r in resize(media, scale_div=2, decoder="real").collect()}
    assert len(out) == len(shapes)
    for i, (h, w, _c) in enumerate(shapes):
        r = out[i]
        got_w, got_h = png_dims(bytes(r["content"]))
        assert (got_w, got_h) == (max(1, w // 2), max(1, h // 2))
        assert r["meta"]["dims"] == f"{got_w}x{got_h}"
        assert r["meta"]["resized"] == "1/2"
        arr = decode_png(bytes(r["content"]))  # decodes cleanly
        assert arr.shape[:2] == (got_h, got_w)


def test_mm_feature_extract_real_decoder(spark):
    from interference_spark.pipeline.multimodal import feature_extract

    shapes = [(12, 20, 3), (6, 6, 1)]
    media = _png_fixture_df(spark, shapes)
    rows = {
        r["media_id"]: r
        for r in feature_extract(media, decoder="real").collect()
    }
    for i, (h, w, _c) in enumerate(shapes):
        assert rows[i]["head_hex"] == f"{w}x{h}"  # real dims from IHDR
        assert rows[i]["n_frames"] == 1


def test_mm_real_decoder_rejects_non_png(spark):
    from interference_spark.pipeline.multimodal import (
        resize,
        with_binary_payload,
    )

    docs = spark.createDataFrame([(1, "not a png")], "doc_id long, text string")
    media = with_binary_payload(docs, "text", "doc_id")
    with pytest.raises(Exception, match="(?i)png|unsupported"):
        resize(media, scale_div=2, decoder="real").collect()


def test_wav_codec_roundtrip():
    import numpy as np

    from interference_spark.pipeline.png import UnsupportedMedia
    from interference_spark.pipeline.wav import encode_wav, is_wav, parse_wav

    rng = np.random.RandomState(7)
    mono = rng.randint(-3000, 3000, size=1600, dtype=np.int16)
    data = encode_wav(mono, 16_000)
    assert is_wav(data)
    w = parse_wav(data)
    assert (w["sample_rate"], w["n_channels"], w["bits"], w["n_frames"]) == (
        16_000, 1, 16, 1600,
    )
    assert (w["samples"][:, 0] == mono.astype(np.int32)).all()
    stereo = rng.randint(-500, 500, size=(800, 2), dtype=np.int16)
    w2 = parse_wav(encode_wav(stereo, 44_100))
    assert (w2["sample_rate"], w2["n_channels"], w2["n_frames"]) == (44_100, 2, 800)
    assert (w2["samples"] == stereo.astype(np.int32)).all()
    import pytest as _pytest

    with _pytest.raises(UnsupportedMedia):
        parse_wav(b"ID3\x04not a wav at all........")


def test_mm_audio_features_real_decoder(spark):
    """decoder="real" parses genuine WAVs: true rate/channels/duration and
    exact RMS (square wave amplitude A has RMS exactly A)."""
    import numpy as np

    from interference_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        audio_features,
    )
    from interference_spark.pipeline.wav import encode_wav

    sq = np.full(8000, 1000, dtype=np.int16)
    sq[::2] = -1000  # square wave, |s| = 1000 everywhere -> RMS = 1000
    stereo = np.zeros((2205, 2), dtype=np.int16)  # silence -> RMS 0
    rows = [
        (0, "audio", bytearray(encode_wav(sq, 16_000)), "audio/wav", {}),
        (1, "audio", bytearray(encode_wav(stereo, 44_100)), "audio/wav", {}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in audio_features(media, decoder="real").collect()}
    assert got[0]["sample_rate"] == 16_000
    assert got[0]["n_channels"] == 1
    assert got[0]["n_samples"] == 8000
    assert got[0]["duration_ms"] == 500
    assert got[0]["rms_amp"] == 1000
    assert got[1]["sample_rate"] == 44_100
    assert got[1]["n_channels"] == 2
    assert got[1]["n_samples"] == 2205
    assert got[1]["duration_ms"] == 50
    assert got[1]["rms_amp"] == 0


def test_mm_audio_features_fake_decoder_arithmetic(spark):
    from interference_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        audio_features,
    )

    rows = [(0, "audio", bytearray(b"x" * 3210), "application/octet-stream", {})]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    r = audio_features(media, decoder="fake").collect()[0]
    assert r["n_samples"] == 1605
    assert r["duration_ms"] == 1605 * 1000 // 16000
    assert r["rms_amp"] is None


def test_top_principal_component_matches_numpy_and_partitioning(spark):
    """Power iteration must land on numpy's top eigenvector (|cos| ≈ 1) and
    be bit-identical under a different partitioning (quantized-long sums)."""
    import numpy as np

    from interference_spark.pipeline.linalg import top_principal_component

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = top_principal_component(emb, "embedding", dim=64).collect()
    out2 = top_principal_component(
        emb.repartition(7), "embedding", dim=64
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))

    v = np.array([r["loading"] for r in sorted(out, key=lambda r: r["dim"])])
    assert abs(np.linalg.norm(v) - 1.0) < 1e-9
    X = np.array([list(r["embedding"]) for r in emb.collect()], dtype=np.float64)
    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc / len(X)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]
    assert abs(float(np.dot(v, top))) > 0.99
    lam = out[0]["eigenvalue"]
    assert abs(lam - evals[-1]) / evals[-1] < 0.05
    assert 0.0 < out[0]["explained_frac"] <= 1.0


def test_image_ahash_semantics(spark):
    """aHash through the real codec: identical images collide, re-encoded
    identical pixels collide, uniform brightness shift collides (expected
    aHash property), structural change does not."""
    import numpy as np

    from interference_spark.pipeline.multimodal import ahash_bytes
    from interference_spark.pipeline.png import encode_png

    rng = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    h1, w, h = ahash_bytes(encode_png(rng))
    assert (w, h) == (16, 16)
    assert ahash_bytes(encode_png(rng.copy()))[0] == h1
    shifted = ((rng.astype(int) + 40) % 256).astype(np.uint8)
    # uniform shift wraps some pixels here, so no assertion on equality —
    # just determinism
    assert ahash_bytes(encode_png(shifted))[0] == ahash_bytes(encode_png(shifted))[0]
    structural = rng.copy()
    structural[:8] = 255 - structural[:8]
    assert ahash_bytes(encode_png(structural))[0] != h1


def test_synth_png_corpus_variant_dedup(spark):
    from pyspark.sql import functions as F

    from interference_spark.pipeline.multimodal import image_ahash, synth_png_corpus

    docs = spark.range(0, 100).select(F.col("id").alias("doc_id"))
    media = synth_png_corpus(docs, variants=7, size=16)
    groups = (
        image_ahash(media)
        .groupBy("ahash")
        .agg(F.count("*").alias("n"), F.min("media_id").alias("keep"))
        .collect()
    )
    assert len(groups) == 7
    assert sorted(r["keep"] for r in groups) == list(range(7))
    assert sum(r["n"] for r in groups) == 100


def test_chunk_documents_windows(spark):
    """Chunk boundaries: overlap honored, tail kept, no redundant tail
    chunk fully contained in its predecessor, short docs = one chunk."""
    from pyspark.sql import functions as F

    from interference_spark.pipeline.text import chunk_documents

    toks = lambda n: " ".join(f"t{i}" for i in range(n))  # noqa: E731
    df = spark.createDataFrame(
        [(1, toks(10)), (2, toks(128)), (3, toks(130)), (4, toks(240))],
        "doc_id long, text string",
    )
    got = {}
    rows = chunk_documents(df, chunk_tokens=128, overlap=16).collect()
    for r in rows:
        got.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["n_tokens"], r["chunk"]))
    for v in got.values():
        v.sort()
    assert [(i, n) for i, n, _ in got[1]] == [(0, 10)]
    assert [(i, n) for i, n, _ in got[2]] == [(0, 128)]
    # 130 tokens: window 2 starts at 112, carries 18 tokens, overlap check
    assert [(i, n) for i, n, _ in got[3]] == [(0, 128), (1, 18)]
    assert got[3][1][2].split()[:16] == [f"t{i}" for i in range(112, 128)]
    # 240 tokens: starts 0,112 — NOT a third chunk at 224 (contained in #2)
    assert [(i, n) for i, n, _ in got[4]] == [(0, 128), (1, 128)]
    # full coverage: union of chunk tokens == all tokens
    seen = set()
    for _, _, c in got[4]:
        seen.update(c.split())
    assert seen == {f"t{i}" for i in range(240)}


def test_event_funnel_ordering_and_window(spark):
    """Funnel semantics: strict after-ordering, the within-window cutoff,
    and per-step first-occurrence selection."""
    from interference_spark.pipeline.stats import event_funnel

    rows = [
        # u1: full funnel inside windows
        (1, "view", 100), (1, "click", 200), (1, "purchase", 300),
        # u2: click BEFORE view -> stops at view
        (2, "click", 50), (2, "view", 100),
        # u3: click after view but outside 1h window -> stops at view
        (3, "view", 100), (3, "click", 100 + 3601),
        # u4: first click too early, second click valid -> proceeds
        (4, "view", 100), (4, "click", 50), (4, "click", 150),
        (4, "purchase", 200),
        # u5: purchase without any view -> reached 0
        (5, "purchase", 10),
    ]
    df = spark.createDataFrame(
        [(u, t, float(s)) for u, t, s in rows],
        "user_id long, event_type string, ts_s double",
    ).selectExpr("user_id", "event_type", "CAST(ts_s AS TIMESTAMP) AS ts")
    got = {
        r["user_id"]: (r["reached"], r["t_view"], r["t_click"], r["t_purchase"])
        for r in event_funnel(df, within_seconds=3600).collect()
    }
    assert got[1] == (3, 100, 200, 300)
    assert got[2] == (1, 100, None, None)
    assert got[3] == (1, 100, None, None)
    assert got[4] == (3, 100, 150, 200)
    assert got[5] == (0, None, None, None)


def test_apng_frame_sample_real(spark):
    """Real video-container path: APNG frames extract to standalone PNGs,
    stride honored, pixel content matches the encoder's per-frame pattern."""
    import numpy as np
    from pyspark.sql import functions as F

    from interference_spark.pipeline.multimodal import frame_sample, synth_apng_corpus
    from interference_spark.pipeline.png import decode_png

    docs = spark.range(0, 20).select(F.col("id").alias("doc_id"))
    media = synth_apng_corpus(docs, max_frames=7, size=16)
    out = frame_sample(media, stride=2, decoder="real").collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append((r["frame_idx"], bytes(r["frame"])))
    y, x, c = np.meshgrid(np.arange(16), np.arange(16), np.arange(3), indexing="ij")
    base = y * 7 + x * 13 + c * 5
    for mid, frames in by_id.items():
        nf = 1 + mid % 7
        assert sorted(i for i, _ in frames) == list(range(0, nf, 2))
        for fi, png in frames:
            arr = decode_png(png)
            assert (arr == ((base + fi * 31) % 256).astype(np.uint8)).all()


def test_as_of_join_forward_and_tolerance(spark):
    from interference_spark.plans.asof import as_of_join

    left = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 20.0, "b"), (1, 35.0, "c"), (2, 5.0, "d")],
        "k long, t double, tag string",
    )
    right = spark.createDataFrame(
        [(1, 12.0, 100.0), (1, 20.0, 200.0), (1, 50.0, 500.0)],
        "k long, t double, rv double",
    )
    fwd = {
        r["tag"]: r["rv"]
        for r in as_of_join(
            left, right, "k", "t", "t", direction="forward"
        ).collect()
    }
    # a(10)→12, b(20)→20 (inclusive), c(35)→50, d: no right for k=2
    assert fwd == {"a": 100.0, "b": 200.0, "c": 500.0, "d": None}
    tol = {
        r["tag"]: r["rv"]
        for r in as_of_join(
            left, right, "k", "t", "t", direction="forward",
            tolerance_seconds=5.0,
        ).collect()
    }
    # c(35)→50 is 15 away: nulled by tolerance
    assert tol == {"a": 100.0, "b": 200.0, "c": None, "d": None}
    back_tol = {
        r["tag"]: r["rv"]
        for r in as_of_join(
            left, right, "k", "t", "t", direction="backward",
            tolerance_seconds=5.0,
        ).collect()
    }
    # a(10): no earlier right; b(20)→20; c(35)→20 is 15 back: nulled
    assert back_tol == {"a": None, "b": 200.0, "c": None, "d": None}


def test_as_of_join_null_timestamps_symmetric(spark):
    """NULL-ts left rows match nothing in BOTH directions; NULL-ts right
    rows are never anyone's match."""
    from interference_spark.plans.asof import as_of_join

    left = spark.createDataFrame(
        [(1, 10.0, "a"), (1, None, "n")], "k long, t double, tag string"
    )
    right = spark.createDataFrame(
        [(1, 5.0, 50.0), (1, 15.0, 150.0), (1, None, -1.0)],
        "k long, t double, rv double",
    )
    back = {r["tag"]: r["rv"] for r in as_of_join(left, right, "k", "t", "t").collect()}
    fwd = {
        r["tag"]: r["rv"]
        for r in as_of_join(left, right, "k", "t", "t", direction="forward").collect()
    }
    assert back == {"a": 50.0, "n": None}
    assert fwd == {"a": 150.0, "n": None}


def test_simhash_banding_is_lossless_vs_bruteforce(spark):
    """The 2-clean-bands covering code (k+2 bands, C(k+2,2) band-pair
    keys) must find EXACTLY the pairs a brute-force all-pairs Hamming scan
    finds — on adversarial near-dup text (small edits, duplicates,
    empties)."""
    import itertools

    from pyspark.sql import functions as F

    from interference_spark.pipeline.dedup import simhash, simhash_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    variants = [
        base,
        base,  # exact duplicate → hamming 0 pair
        base.replace("quick", "quicke"),
        base.replace("lazy", "sleepy"),
        base.replace("dog", "cat").replace("fox", "wolf"),
        "completely different words about spark shuffles and parquet files",
        "completely different words about spark shuffles and parquet file",
        "",  # empty doc → fingerprint 0
        "   ",  # blank doc → fingerprint 0 (pairs with the empty one)
        "one",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(variants)], "doc_id long, text string"
    )
    for k in (2, 3):
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_pairs(df, max_hamming=k).collect()
        }
        fps = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}

        def ham(a, b):
            # mask to 64 bits: fingerprints are int64 and may be negative
            # as Python ints, where bin() would miscount
            return bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")

        want = {
            (a, b, ham(a, b))
            for a, b in itertools.combinations(sorted(fps), 2)
            if ham(a, b) <= k
        }
        assert got == want, f"k={k}: banding lost or invented pairs"
        # each unordered pair must be emitted exactly ONCE (no distinct in
        # the expansion path — duplicates would mean the plan is wrong)
        rows = simhash_pairs(df, max_hamming=k).collect()
        assert len(rows) == len(got)


def _jpeg_fixture_df(spark, shapes, quality=90):
    """Media rows whose payloads are REAL encoded baseline JPEGs (smooth
    gradients — JPEG-friendly content)."""
    import numpy as np

    from interference_spark.pipeline.jpeg import encode_jpeg
    from interference_spark.pipeline.multimodal import MEDIA_SCHEMA

    def grad(h, w, c):
        x = np.linspace(0, 255, w)[None, :] * np.ones((h, 1))
        if c == 1:
            return x.astype(np.uint8)
        return np.stack([x, x[::-1], np.full_like(x, 90)], axis=-1).astype(
            np.uint8
        )

    rows = [
        (
            i,
            "image",
            bytearray(encode_jpeg(grad(*s), quality=quality)),
            "image/jpeg",
            {"w": str(s[1]), "h": str(s[0])},
        )
        for i, s in enumerate(shapes)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_jpeg_codec_roundtrip():
    """Encoder → decoder roundtrip: exact dims, near-lossless at q100
    (only YCbCr/DCT rounding), small error on smooth content at q90, and
    marker parsing (dims without full decode)."""
    import numpy as np

    from interference_spark.pipeline.jpeg import (
        decode_jpeg,
        encode_jpeg,
        is_jpeg,
        jpeg_dims,
    )

    rng = np.random.RandomState(3)
    for shape in [(13, 17, 3), (8, 8, 3), (5, 9, 1), (48, 64, 3)]:
        a = rng.randint(0, 256, size=shape, dtype=np.uint8)
        data = encode_jpeg(a, quality=100)
        assert is_jpeg(data)
        assert jpeg_dims(data) == (shape[1], shape[0])
        b = decode_jpeg(data)
        assert b.shape[:2] == a.shape[:2]
        err = np.abs(b.astype(int)[..., : a.shape[2] if a.ndim == 3 else 1]
                     - a.reshape(b.shape[0], b.shape[1], -1).astype(int))
        assert err.max() <= 2, "q100 must be near-lossless"
    # smooth gradient at q90: visually-lossy-but-close regime
    x = np.linspace(0, 255, 64)[None, :] * np.ones((48, 1))
    img = np.stack([x, x[::-1], np.full_like(x, 100)], axis=-1).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=90))
    assert float(np.abs(dec.astype(int) - img.astype(int)).mean()) < 4.0


def test_jpeg_codec_rejects_non_baseline():
    import numpy as np
    import pytest as _pytest

    from interference_spark.pipeline.jpeg import decode_jpeg, encode_jpeg
    from interference_spark.pipeline.png import UnsupportedMedia, encode_png

    png = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    with _pytest.raises(UnsupportedMedia):
        decode_jpeg(png)
    # progressive SOF2 marker is rejected, not mis-decoded
    j = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    sof = j.find(b"\xff\xc0")
    j[sof + 1] = 0xC2
    with _pytest.raises(UnsupportedMedia):
        decode_jpeg(bytes(j))


def test_mm_real_decoder_handles_jpeg(spark):
    """decoder="real" paths decode JPEG payloads: feature dims, resize
    (re-encoded as JPEG at half dims), and aHash fingerprints that
    collide for identical payloads."""
    from interference_spark.pipeline.jpeg import is_jpeg, jpeg_dims
    from interference_spark.pipeline.multimodal import (
        feature_extract,
        image_ahash,
        resize,
    )

    shapes = [(16, 24, 3), (10, 8, 1)]
    media = _jpeg_fixture_df(spark, shapes)
    feats = {r["media_id"]: r for r in feature_extract(media, decoder="real").collect()}
    for i, (h, w, _c) in enumerate(shapes):
        assert feats[i]["head_hex"] == f"{w}x{h}"
    out = {r["media_id"]: r for r in resize(media, scale_div=2, decoder="real").collect()}
    for i, (h, w, _c) in enumerate(shapes):
        payload = bytes(out[i]["content"])
        assert is_jpeg(payload), "resize must re-encode JPEG as JPEG"
        assert jpeg_dims(payload) == (max(1, w // 2), max(1, h // 2))
    # identical payloads → identical perceptual hash
    two = _jpeg_fixture_df(spark, [(12, 12, 3), (12, 12, 3)])
    hs = [r["ahash"] for r in image_ahash(two).collect()]
    assert hs[0] == hs[1]


def test_decayed_activity_all_null_window(spark):
    """A key whose window holds only NULL values must yield a NULL score,
    not INVALID_INDEX_OF_ZERO (collect_list skips nulls → empty array →
    sequence(0,-1) counts DOWN)."""
    from interference_spark.pipeline.stats import decayed_activity

    df = spark.createDataFrame(
        [(1, 1, 0.0, None), (2, 1, 1.0, 5.0), (3, 2, 0.0, None)],
        "event_id long, user_id long, ts double, value double",
    )
    rows = {r["event_id"]: r["decayed_score"] for r in decayed_activity(df).collect()}
    assert rows[1] is None and rows[3] is None
    assert rows[2] == 5.0


def test_cms_join_size_disjoint_inputs(spark):
    """Fully-disjoint key sets must estimate 0 (not NULL), and a depth row
    with zero bucket collisions must pull the min to its true 0."""
    from interference_spark.pipeline.sketch import cms_join_size_estimate

    a = spark.createDataFrame([(1,)], "k long")
    b = spark.createDataFrame([(2,)], "k long")
    est = cms_join_size_estimate(a, b, "k", "k", width=1 << 20).collect()[0]
    assert est["est_join_size"] == 0


def test_jpeg_chroma_subsampling_roundtrip():
    """4:2:2 and 4:2:0 (what camera/web JPEGs use) encode smaller and
    decode to full resolution with bounded extra chroma error; odd
    (non-MCU-multiple) dimensions exercise the padding paths."""
    import numpy as np

    from interference_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    x = np.linspace(0, 255, 61)[None, :] * np.ones((45, 1))
    img = np.stack([x, x[::-1], np.full_like(x, 100)], axis=-1).astype(np.uint8)
    sizes = {}
    for sub in ("444", "422", "420"):
        enc = encode_jpeg(img, quality=90, subsampling=sub)
        dec = decode_jpeg(enc)
        assert dec.shape == img.shape
        mae = float(np.abs(dec.astype(int) - img.astype(int)).mean())
        assert mae < 4.0, f"{sub}: mae {mae}"
        sizes[sub] = len(enc)
    assert sizes["420"] < sizes["422"] < sizes["444"]
    odd = np.full((9, 13, 3), 77, dtype=np.uint8)
    do = decode_jpeg(encode_jpeg(odd, 85, subsampling="420"))
    assert do.shape == (9, 13, 3)
    assert int(np.abs(do.astype(int) - odd.astype(int)).max()) == 0


def test_triangle_stats_hand_graph(spark):
    """K4 minus one edge: 5 edges, 2 triangles, wedges checked by hand."""
    from interference_spark.pipeline.graph import triangle_stats

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], "pa long, pb long"
    )
    r = triangle_stats(edges).collect()[0]
    # degrees: 1→3, 2→3, 3→2, 4→2 ⇒ wedges 3+3+1+1 = 8
    assert (r.n_edges, r.n_wedges, r.n_triangles) == (5, 8, 2)
    assert abs(r.global_clustering - 6.0 / 8.0) < 1e-12


def test_pagerank_quantized_hub_ranks_highest(spark):
    """On a star graph the hub must out-rank every leaf, and ranks must be
    deterministic across runs."""
    from interference_spark.pipeline.graph import pagerank_quantized

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], "pa long, pb long"
    )
    r1 = [(r.v, r.rank_micro) for r in pagerank_quantized(star, iters=3).collect()]
    r2 = [(r.v, r.rank_micro) for r in pagerank_quantized(star, iters=3).collect()]
    assert r1 == r2
    assert r1[0][0] == 0, "hub first"
    assert r1[0][1] > r1[1][1], "hub strictly out-ranks leaves"


def test_pagerank_empty_graph(spark):
    from interference_spark.pipeline.graph import pagerank_quantized

    empty = spark.createDataFrame([], "pa long, pb long")
    out = pagerank_quantized(empty)
    assert out.count() == 0
    assert out.columns == ["v", "rank_micro", "rank"]


def test_jpeg_gray_with_declared_subsampling_decodes_raster():
    """Some encoders declare 2x2 sampling on single-component JPEGs; per
    T.81 a one-component scan is NON-interleaved, so the decode must
    match the 1x1 interpretation, not scramble blocks."""
    import numpy as np

    from interference_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    g = (np.arange(24 * 24).reshape(24, 24) % 256).astype(np.uint8)
    enc = bytearray(encode_jpeg(g, quality=95))
    ref = decode_jpeg(bytes(enc))
    sof = bytes(enc).find(b"\xff\xc0")
    samp_off = sof + 4 + 6 + 1  # marker+len+prec/h/w/nc, comp id byte
    assert enc[samp_off] == 0x11
    enc[samp_off] = 0x22  # declare 2x2 on the lone component
    dec = decode_jpeg(bytes(enc))
    assert (dec == ref).all()


def test_semantic_dedup_keeps_outlier(spark):
    """Within a cluster, the pair member CLOSER to the centroid is dropped
    (SemDeDup's diversity-preserving rule); cross-cluster pairs never
    form even at cosine 1.0."""
    import numpy as np

    from interference_spark.pipeline.similarity import semantic_dedup

    # two tight groups on orthogonal axes; id 2 is a slightly-off copy of
    # id 1 (same direction, so pair cosine == 1.0 after normalization is
    # irrelevant — raw cosine of x and 2x is 1.0); id 12 copies id 11 on
    # the other axis. 4 seeds -> 2 clusters by construction.
    def vec(axis, scale):
        v = np.zeros(8)
        v[axis] = scale
        return [float(x) for x in v]

    rows = [
        (1, vec(0, 1.0)),
        (2, vec(0, 2.0)),      # same axis as 1: cosine(1,2)=1.0
        (11, vec(4, 1.0)),
        (12, vec(4, 3.0)),     # same axis as 11
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(df, n_clusters=2, threshold=0.99).collect()
    pairs = {(r.keep_id, r.drop_id) for r in out}
    # no cross-axis pair (cosine 0 anyway), and within each axis-aligned
    # pair BOTH members have centroid-cosine 1.0 (centroid lies on the
    # axis), so the tie rule drops the higher id
    assert pairs == {(1, 2), (11, 12)}
    for r in out:
        assert r.cosine == pytest.approx(1.0, abs=1e-9)


def test_semantic_dedup_threshold_filters(spark):
    import math

    from interference_spark.pipeline.similarity import semantic_dedup

    # 45-degree pair: cosine ~0.7071 — included at 0.7, excluded at 0.8
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    hi = semantic_dedup(df, n_clusters=1, threshold=0.8).collect()
    lo = semantic_dedup(df, n_clusters=1, threshold=0.7).collect()
    assert hi == []
    assert len(lo) == 1 and lo[0].cosine == pytest.approx(math.sqrt(0.5), abs=1e-6)


def test_linear_quality_model_recovers_exact_fit(spark):
    """On a corpus where y is EXACTLY linear in the features the least
    squares fit must recover the interpolant: en docs have wc=100
    (x1=1.0), others wc=200 (x1=2.0), so y = 1[lang='en'] = 2 - x1
    exactly, while x2 (avg word length) varies independently within both
    groups — the Gram matrix is well-conditioned and the zero-residual
    solution is w = (2, -1, 0)."""
    from interference_spark.pipeline.text import linear_quality_model

    def doc(wc, width):
        return " ".join(["a" * width] * wc)

    rows = []
    i = 0
    for wc, width, lang in [
        (100, 1, "en"), (100, 4, "en"), (100, 2, "en"),
        (200, 1, "de"), (200, 4, "de"), (200, 6, "fr"),
    ]:
        rows.append((i, doc(wc, width), lang))
        i += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["label"]: r for r in linear_quality_model(df).collect()}
    assert set(out) == {"en", "de", "fr"}
    r = out["en"]
    # weights are global (identical on every row) and match the exact fit
    assert r["w0"] == out["de"]["w0"] and r["w1"] == out["fr"]["w1"]
    assert r["w0"] == pytest.approx(2.0, abs=1e-3)
    assert r["w1"] == pytest.approx(-1.0, abs=1e-3)
    assert r["w2"] == pytest.approx(0.0, abs=1e-3)
    # zero-residual fit reproduces y on the training points
    assert out["en"]["avg_pred"] == pytest.approx(1.0, abs=1e-3)
    assert out["de"]["avg_pred"] == pytest.approx(0.0, abs=1e-3)
    assert out["fr"]["avg_pred"] == pytest.approx(0.0, abs=1e-3)


def test_linear_quality_model_singular_raises(spark):
    """Constant features make the Gram matrix singular: the fit must
    raise a clear error, never emit NULL/inf weights (round-4 advice)."""
    from interference_spark.pipeline.text import linear_quality_model

    rows = [(i, "a a a a", "en" if i % 2 == 0 else "de") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="singular Gram"):
        linear_quality_model(df)


def test_ivf_stored_exact_prunes_and_matches_exact(spark, tmp_path):
    """ivf_build_exact + ivf_search_stored_exact (the oracled stored
    path): the centroid IN-list still prunes partitions at directory
    level, and results are bit-identical to the in-memory
    ivf_search_exact on the same corpus/query."""
    import re

    from interference_spark.pipeline.similarity import (
        ivf_build_exact,
        ivf_search_exact,
        ivf_search_stored_exact,
        ivf_write,
        probe_centroids_exact,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    base = emb.filter("vec_id <> 0")
    assigned, cents = ivf_build_exact(base, n_centroids=8)
    path = str(tmp_path / "ivf_exact")
    ivf_write(assigned, path)

    got = ivf_search_stored_exact(spark, path, cents, qvec, k=5, nprobe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    probe_ids = probe_centroids_exact(cents, qvec, 2)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "centroid" in m.group(1), plan
    assert all(str(pid) in m.group(1) for pid in probe_ids), plan
    want = ivf_search_exact(base, qvec, k=5, nprobe=2, n_centroids=8)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_jacobi_top_component_matches_lapack():
    """The fixed-schedule parallel Jacobi (the SQL-replayable eigensolver
    behind embedding_top_pc) must agree with LAPACK eigh to float64
    precision and be bit-deterministic across reruns."""
    import numpy as np

    from interference_spark.pipeline.linalg import (
        jacobi_top_component,
        round_robin_pairs,
    )

    rounds = round_robin_pairs(64)
    assert len(rounds) == 63
    seen = set()
    for pairs in rounds:
        flat = [x for pq in pairs for x in pq]
        assert len(set(flat)) == 64  # disjoint within a round
        seen.update(pairs)
    assert len(seen) == 64 * 63 // 2  # every pair exactly once per sweep

    rng = np.random.RandomState(3)
    for _ in range(3):
        m = rng.randn(64, 64)
        cov = (m @ m.T) / 64.0
        lam, v, tr = jacobi_top_component(cov)
        evals, evecs = np.linalg.eigh(cov)
        assert abs(lam - evals[-1]) <= 1e-10 * abs(evals[-1])
        assert abs(abs(float(v @ evecs[:, -1])) - 1.0) <= 1e-10
        assert abs(tr - float(np.trace(cov))) <= 1e-10 * abs(tr)
        lam2, v2, tr2 = jacobi_top_component(cov.copy())
        assert lam == lam2 and tr == tr2 and (v == v2).all()


def test_incremental_minhash_dedup_decisions(spark):
    """Registry near-dups and earlier-batch near-dups reject; unique docs
    keep; decisions and best-Jaccard values are as constructed."""
    from interference_spark.pipeline.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    known_text = " ".join(f"k{i}" for i in range(30))
    batch_dup = " ".join(f"b{i}" for i in range(30))
    unique = " ".join(f"u{i}" for i in range(30))
    known = spark.createDataFrame(
        [(100, known_text)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (1, known_text),   # exact dup of registry → rejected
            (2, batch_dup),    # first of an in-batch pair → kept
            (3, batch_dup),    # later in-batch dup → rejected
            (4, unique),       # unique → kept
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in incremental_minhash_dedup(
            new, minhash_signatures(known), threshold=0.9
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert not out[1].kept and out[1].best_known == 1.0 and out[1].best_batch == 0.0
    assert out[2].kept and out[2].best_known == 0.0 and out[2].best_batch == 0.0
    assert not out[3].kept and out[3].best_batch == 1.0
    assert out[4].kept


def test_semantic_decontaminate_thresholds(spark):
    """Identical corpus/eval vectors are contaminated at cosine 1.0, a
    45-degree vector sits at ~0.707 (flips with the threshold), an
    orthogonal one stays clean."""
    import math

    from interference_spark.pipeline.similarity import semantic_decontaminate

    ev = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 1.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    hi = {r.vec_id: r for r in semantic_decontaminate(corpus, ev, 0.9).collect()}
    assert hi[1].contaminated and hi[1].max_eval_cos == pytest.approx(1.0, abs=1e-9)
    assert not hi[2].contaminated
    assert hi[2].max_eval_cos == pytest.approx(math.sqrt(0.5), abs=1e-6)
    assert not hi[3].contaminated and hi[3].max_eval_cos == pytest.approx(0.0, abs=1e-9)
    lo = {r.vec_id: r for r in semantic_decontaminate(corpus, ev, 0.5).collect()}
    assert lo[2].contaminated


def test_jacobi_top_component_odd_dim(spark):
    """Odd dimensions seat a bye per round (round-4 advice: the old
    np.empty coefficient arrays left the unpaired index uninitialized) —
    the solver must still match LAPACK and stay bit-deterministic."""
    import numpy as np

    from interference_spark.pipeline.linalg import (
        jacobi_top_component,
        round_robin_pairs,
    )

    for n in (3, 5, 7, 63):
        rounds = round_robin_pairs(n)
        assert len(rounds) == n  # odd n: n rounds of (n-1)/2 pairs + bye
        seen = set()
        for pairs in rounds:
            flat = [x for pq in pairs for x in pq]
            assert len(flat) == len(set(flat)) == n - 1  # one bye
            seen.update(pairs)
        assert len(seen) == n * (n - 1) // 2  # every pair once per sweep

    rng = np.random.RandomState(11)
    for n in (3, 5, 63):
        m = rng.randn(n, n)
        cov = (m @ m.T) / n
        lam, v, tr = jacobi_top_component(cov)
        evals, evecs = np.linalg.eigh(cov)
        assert abs(lam - evals[-1]) <= 1e-10 * abs(evals[-1])
        assert abs(abs(float(v @ evecs[:, -1])) - 1.0) <= 1e-10
        lam2, v2, tr2 = jacobi_top_component(cov.copy())
        assert lam == lam2 and tr == tr2 and (v == v2).all()


def test_simhash_honors_bits(spark):
    """``bits`` sets the fingerprint width: a 32-bit fingerprint fits in
    the low 32 bits."""
    from interference_spark.pipeline.dedup import simhash

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert simhash(df, bits=32).count() == 1
    assert 0 <= simhash(df, bits=32).first().simhash < 1 << 32


def test_linear_quality_model_empty_corpus_raises(spark):
    """An empty corpus must raise the descriptive ValueError, not a
    TypeError from None arithmetic on the NULL aggregates (round-4
    advice)."""
    from interference_spark.pipeline.text import linear_quality_model

    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="empty or degenerate"):
        linear_quality_model(empty)


def test_semantic_decontaminate_zero_norm_guard(spark):
    """All-zero corpus or eval vectors have quantized norm 0: the old
    0/0 gave NaN, which Spark's NaN-is-greatest max then reported as
    contaminated (round-4 advice).  The guard pins cosine to 0."""
    from interference_spark.pipeline.similarity import semantic_decontaminate

    ev = spark.createDataFrame(
        [(0, [1.0, 0.0]), (9, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in semantic_decontaminate(corpus, ev, 0.5).collect()}
    assert out[1].max_eval_cos == 0.0 and not out[1].contaminated
    assert out[2].max_eval_cos == 1.0 and out[2].contaminated


def test_incremental_minhash_dedup_releases_caches(spark):
    """The admission must not leave signature caches behind — only the
    returned decision table stays persisted, and a caller-cached registry
    keeps its storage level untouched (round-4 advice)."""
    from interference_spark.pipeline.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    def cached_ids():
        # set of ids, not a count: unrelated cached blocks from EARLIER
        # tests (e.g. localCheckpoint blocks awaiting the async
        # ContextCleaner) may vanish mid-test, so count deltas flake
        it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    base = cached_ids()
    known = spark.createDataFrame(
        [(10, "alpha beta gamma delta")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "epsilon zeta eta theta")], "doc_id long, text string"
    )
    out = incremental_minhash_dedup(new, minhash_signatures(known))
    assert out.collect()[0].kept
    assert len(cached_ids() - base) == 1  # just the decision table
    out.unpersist()
    assert not (cached_ids() - base)

    # caller-owned cache: level untouched, still cached afterwards
    reg = minhash_signatures(known).persist()
    reg.count()
    lvl = reg.storageLevel
    out2 = incremental_minhash_dedup(new, reg)
    assert reg.storageLevel == lvl
    # registry (caller's) + decision table
    assert len(cached_ids() - base) == 2
    out2.unpersist()
    reg.unpersist()


def _ref_bpe(word_freqs, n_merges):
    """Independent textbook BPE (list-based, driver-side) to validate the
    distributed fold implementation rule for rule."""
    segs = {w: list(w) for w in word_freqs}
    rules = []
    for rank in range(1, n_merges + 1):
        counts = {}
        for w, f in word_freqs.items():
            s = segs[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        # max count, ties -> lexicographically smallest (l, r)
        best = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        rules.append((rank, best[0], best[1], best[0] + best[1], counts[best]))
        for w, s in segs.items():
            out = []
            for x in s:
                if out and out[-1] == best[0] and x == best[1]:
                    out[-1] = best[0] + best[1]
                else:
                    out.append(x)
            segs[w] = out
    return rules, segs


def _ref_bpe_batched(word_freqs, n_merges, k):
    """Driver-side replica of the batched (merges_per_round=k) spec:
    count once per round, rank by (-cnt, l, r), greedily take up to k
    symbol-disjoint pairs (merged tokens also block), apply in rank
    order."""
    from interference_spark.pipeline.bpe import select_disjoint

    segs = {w: list(w) for w in word_freqs}
    rules = []
    rank = 1
    while rank <= n_merges:
        counts = {}
        for w, f in word_freqs.items():
            s = segs[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        cand = sorted(
            ((l, r, c) for (l, r), c in counts.items()),
            key=lambda t: (-t[2], t[0], t[1]),
        )
        want = min(k, n_merges - rank + 1)
        for l, r, c in select_disjoint(cand, want):
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
    return rules, segs


def test_bpe_batched_matches_replica(spark, monkeypatch):
    """merges_per_round=k must reproduce the driver-side replica of the
    batched spec rule for rule, and k=1 must stay bit-identical to
    textbook sequential BPE (the oracle contract) — on both training
    paths: the driver loop, and the Spark loop (cap lowered to 0)."""
    import random

    from interference_spark import pipeline
    from interference_spark.pipeline.bpe import bpe_train, select_disjoint

    rng = random.Random(11)
    corpora = [
        ["low low low lower lower", "newest newest newest widest",
         "aaaa aa low newest"],
    ]
    for _ in range(2):
        alphabet = "abcd"
        corpora.append(
            [
                " ".join(
                    "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
                    for _ in range(rng.randint(1, 8))
                )
                for _ in range(3)
            ]
        )
    for docs in corpora:
        freqs = {}
        for t in docs:
            for w in t.split():
                freqs[w] = freqs.get(w, 0) + 1
        df = spark.createDataFrame(
            [(i, t, "en") for i, t in enumerate(docs)],
            "doc_id long, text string, lang string",
        )
        # k=1 batched replica == sequential textbook reference
        assert _ref_bpe_batched(freqs, 6, 1) == _ref_bpe(freqs, 6)
        for k in (2, 3):
            want_rules, want_segs = _ref_bpe_batched(freqs, 6, k)
            for cap in (pipeline.DRIVER_COLLECT_CAP, 0):
                monkeypatch.setattr(pipeline, "DRIVER_COLLECT_CAP", cap)
                merges, words = bpe_train(df, n_merges=6, merges_per_round=k)
                got_rules = [
                    (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
                    for r in merges.orderBy("merge_rank").collect()
                ]
                assert got_rules == want_rules, (docs, k, cap)
                got_segs = {r.word: r.sym.split(" ") for r in words.collect()}
                assert got_segs == want_segs, (docs, k, cap)
            monkeypatch.undo()

    # disjointness blocks shared symbols AND freshly merged tokens
    cand = [("a", "b", 9), ("b", "c", 8), ("ab", "x", 7), ("c", "d", 6)]
    assert select_disjoint(cand, 3) == [("a", "b", 9), ("c", "d", 6)]
    with pytest.raises(ValueError, match="merges_per_round"):
        bpe_train(spark.range(0).selectExpr("'' as text"), merges_per_round=0)


def test_select_exact_prefix_bit_identical_fuzz():
    """The r12 exact-prefix batcher must be BIT-IDENTICAL to sequential
    BPE on every input (it replaces the per-merge round trip on the
    merges_per_round=1 oracle-contract path).  Pure-Python fuzz over
    tiny alphabets — ties, (a,a) self-merges, merged-token collisions
    with earlier rounds' outputs, and window truncation all occur —
    replaying each round as: rank the FULL pair table, hand the batcher
    a truncated window (like the Spark limit(cap) collect), apply the
    selected batch in one pass, compare rules AND segmentations against
    the textbook sequential reference."""
    import random

    from interference_spark.pipeline.bpe import select_exact_prefix

    rng = random.Random(1202)

    def batched(word_freqs, n_merges, cap):
        segs = {w: list(w) for w in word_freqs}
        rules = []
        rank = 1
        while rank <= n_merges:
            counts = {}
            for w, f in word_freqs.items():
                s = segs[w]
                for a, b in zip(s, s[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + f
            if not counts:
                break
            cand = sorted(
                ((l, r, c) for (l, r), c in counts.items()),
                key=lambda t: (-t[2], t[0], t[1]),
            )[:cap]
            sel = select_exact_prefix(
                cand,
                n_merges - rank + 1,
                window_truncated=len(counts) > cap,
                prior_merged=frozenset(m for _, _, _, m, _ in rules),
            )
            assert sel, "prefix batcher must always take the argmax"
            for l, r, c in sel:
                rules.append((rank, l, r, l + r, c))
                rank += 1
            # one simultaneous pass, merge_fold_batch semantics: each
            # incoming symbol matches at most one rule by its right
            by_right = {r: l for l, r, _ in sel}
            for w, s in segs.items():
                out = []
                for x in s:
                    if out and by_right.get(x) is not None and out[-1] == by_right[x]:
                        out[-1] = by_right[x] + x
                    else:
                        out.append(x)
                segs[w] = out
        return rules, segs

    for trial in range(200):
        alphabet = rng.choice(["ab", "abc", "abcd"])
        docs = [
            " ".join(
                "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 7)))
                for _ in range(rng.randint(1, 6))
            )
            for _ in range(rng.randint(1, 5))
        ]
        freqs = {}
        for t in docs:
            for w in t.split():
                freqs[w] = freqs.get(w, 0) + 1
        n_merges = rng.randint(1, 10)
        cap = rng.choice([2, 3, 8, 64])
        want = _ref_bpe(freqs, n_merges)
        got = batched(freqs, n_merges, cap)
        assert got[0] == want[0], (trial, docs, n_merges, cap)
        assert got[1] == want[1], (trial, docs, n_merges, cap)


def test_bpe_train_matches_reference(spark, monkeypatch):
    """Both BPE training paths — the driver loop and the distributed one
    (JVM fold + pair-count shuffle + top-window argmax, reached by
    lowering the cap to 0) — must reproduce a driver-side textbook
    implementation rule for rule, including greedy-leftmost runs
    (aaaa + (a,a) -> [aa, aa]) and the deterministic tie-break."""
    from interference_spark import pipeline
    from interference_spark.pipeline.bpe import bpe_train, subword_stats

    docs = [
        "low low low lower lower",
        "newest newest newest widest",
        "aaaa aa low newest",
    ]
    df = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(docs)],
        "doc_id long, text string, lang string",
    )
    freqs = {}
    for t in docs:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    want_rules, want_segs = _ref_bpe(freqs, 6)
    n_tok = sum(freqs.values())
    n_sub = sum(len(want_segs[w]) * f for w, f in freqs.items())

    for cap in (pipeline.DRIVER_COLLECT_CAP, 0):
        monkeypatch.setattr(pipeline, "DRIVER_COLLECT_CAP", cap)
        merges, words = bpe_train(df, n_merges=6)
        got_rules = [
            (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
            for r in merges.orderBy("merge_rank").collect()
        ]
        assert got_rules == want_rules, cap
        got_segs = {r.word: r.sym.split(" ") for r in words.collect()}
        assert got_segs == want_segs, cap

        stats = {r.lang: r for r in subword_stats(df, words).collect()}
        assert stats["en"].n_tokens == n_tok
        assert stats["en"].n_subwords == n_sub
        assert stats["en"].subwords_per_token == n_sub / n_tok


def test_token_budget_mix(spark):
    """Greedy-fill contract: docs rank longest-first (id ties ascending),
    the doc that CROSSES the budget is included (budget met or exceeded
    by < 1 doc), later docs are cut, an unbudgeted stratum disappears,
    and a zero budget keeps nothing."""
    import pytest as _pytest

    from interference_spark.pipeline.export import token_budget_mix

    rows = [
        (1, "en", "w " * 10),  # 10 tokens
        (2, "en", "w " * 10),  # ties with 1 -> id order
        (3, "en", "w " * 4),  # crosses the 22-token budget -> kept
        (4, "en", "w " * 3),  # after the cross -> cut
        (5, "de", "w " * 5),
        (6, "zh", "w " * 5),  # no budget -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r.doc_id: (r.lang, r.n_tokens, r.cum_tokens)
        for r in token_budget_mix(
            df, "lang", {"en": 22, "de": 5, "fr": 100, "empty": 0}
        ).collect()
    }
    assert got == {
        1: ("en", 10, 10),
        2: ("en", 10, 20),
        3: ("en", 4, 24),
        5: ("de", 5, 5),
    }
    with _pytest.raises(ValueError, match="must be >= 0"):
        token_budget_mix(df, "lang", {"en": -1})


def test_remove_repeated_passages(spark):
    """Chunk-granular removal semantics: a 10-word chunk shared by two
    docs is cut from both, unique chunks and sub-chunk tails survive in
    order, a doc that IS one repeated chunk becomes empty, and short
    docs pass through verbatim."""
    from interference_spark.pipeline.text import remove_repeated_passages

    shared = "a b c d e f g h i j"  # exactly one chunk
    uniq1 = "k l m n o p q r s t"
    docs = [
        (1, f"{shared} {uniq1} tail1 tail2"),  # shared cut, rest kept
        (2, f"{shared}"),  # whole doc repeated -> empty
        (3, "short doc"),  # < 10 words -> verbatim
        (4, f"u v w x y z aa bb cc dd {shared} ee"),  # shared cut mid-doc
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_chunks, r.n_removed, r.clean_text)
        for r in remove_repeated_passages(df).collect()
    }
    assert got[1] == (2, 1, f"{uniq1} tail1 tail2")
    assert got[2] == (1, 1, "")
    assert got[3] == (0, 0, "short doc")
    assert got[4] == (2, 1, "u v w x y z aa bb cc dd ee")


def test_literal_maps_parse_equals_lit_maps(spark):
    """The one-parse ``map(...)`` literals equal the per-entry ``F.lit``
    maps on all 256 entries, quote and backslash included."""
    from pyspark.sql import functions as F

    from interference_spark.pipeline.byte_bpe import (
        _char_to_hex_map,
        _hex_map,
        _hex_to_char,
    )

    pairs = _hex_to_char()
    assert {"'", "\\"} <= {c for _, c in pairs}

    def lit_map(kv):
        return F.create_map(*[F.lit(x) for k, v in kv for x in (k, v)])

    row = spark.range(1).select(
        _hex_map().alias("h"),
        lit_map(pairs).alias("hl"),
        _char_to_hex_map().alias("c"),
        lit_map((c, hx) for hx, c in pairs).alias("cl"),
    ).first()
    assert len(row["h"]) == len(row["c"]) == 256
    assert row["h"] == row["hl"] == dict(pairs)
    assert row["c"] == row["cl"] == {c: hx for hx, c in pairs}


def test_bpe_vocab_and_encode(spark):
    """bpe_vocab/bpe_encode contract against the textbook reference:
    base chars get ids 0..B-1 in binary order, merges get B+rank-1
    (string collisions keep the min id), and every encoded sequence is
    the reference segmentation flattened in order with dense per-doc
    positions."""
    from interference_spark.pipeline.bpe import (
        bpe_encode,
        bpe_train,
        bpe_vocab,
    )

    docs = [
        "low low low lower lower",
        "newest newest newest widest",
        "aaaa aa low newest",
    ]
    df = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(docs)],
        "doc_id long, text string, lang string",
    )
    freqs = {}
    for t in docs:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    rules, segs = _ref_bpe(freqs, 6)

    merges, words = bpe_train(df, n_merges=6)
    vocab = {r.token: r.token_id for r in bpe_vocab(merges, words).collect()}
    chars = sorted({c for w in freqs for c in w})
    b = len(chars)
    want_vocab = {c: i for i, c in enumerate(chars)}
    for rank, _l, _r, merged, _c in rules:
        want_vocab.setdefault(merged, b + rank - 1)
    assert vocab == want_vocab

    enc = bpe_encode(df, words, bpe_vocab(merges, words)).collect()
    by_doc: dict[int, list] = {}
    for r in enc:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(docs):
        rows = sorted(by_doc[i], key=lambda r: r.pos)
        assert [r.pos for r in rows] == list(range(len(rows)))  # dense
        want = [tok for w in t.split() for tok in segs[w]]
        assert [r.token for r in rows] == want
        assert [r.token_id for r in rows] == [want_vocab[t_] for t_ in want]

    # encode-new-docs: OOV words are dropped under the default contract
    # but surfaced as NULL-token_id rows under oov="null"
    new = spark.createDataFrame(
        [(9, "low zzz newest", "en")], "doc_id long, text string, lang string"
    )
    dropped = bpe_encode(new, words, bpe_vocab(merges, words)).collect()
    assert all(r.token_id is not None for r in dropped)
    surfaced = sorted(
        bpe_encode(new, words, bpe_vocab(merges, words), oov="null").collect(),
        key=lambda r: r.pos,
    )
    assert [r.pos for r in surfaced] == list(range(len(surfaced)))
    oov_rows = [r for r in surfaced if r.token_id is None]
    assert [r.token for r in oov_rows] == ["zzz"]
    assert len(surfaced) == len(dropped) + 1
    with pytest.raises(ValueError, match="oov"):
        bpe_encode(new, words, bpe_vocab(merges, words), oov="bogus")

    # check_vocab_coverage (ADVICE r9): a vocab that does not cover the
    # segmentation alphabet would leave silent positional gaps in drop
    # mode — the opt-in check raises instead; the full vocab passes
    full_vocab = bpe_vocab(merges, words)
    ok = bpe_encode(
        df, words, full_vocab, check_vocab_coverage=True
    ).count()
    assert ok == len(enc)
    truncated = full_vocab.filter(F.length("token") > 1)
    with pytest.raises(ValueError, match="cover the segmentation"):
        bpe_encode(df, words, truncated, check_vocab_coverage=True)
    # ADVICE r10: the check is honored in null mode too (it used to be
    # a silent no-op) — same uncovered alphabet, null-mode consequence
    with pytest.raises(ValueError, match="NULL token_ids"):
        bpe_encode(
            df, words, truncated, oov="null", check_vocab_coverage=True
        )
    ok_null = bpe_encode(
        df, words, full_vocab, oov="null", check_vocab_coverage=True
    ).count()
    assert ok_null == len(enc)

    # round-trip: encode with word index -> decode == normalized source
    from interference_spark.pipeline.bpe import bpe_decode

    enc_w = bpe_encode(
        df, words, bpe_vocab(merges, words), with_word_index=True
    )
    dec = {r.doc_id: (r.text, r.ids_match_tokens)
           for r in bpe_decode(enc_w, bpe_vocab(merges, words)).collect()}
    for i, t in enumerate(docs):
        assert dec[i] == (" ".join(t.split()), True)
    with pytest.raises(ValueError, match="word index"):
        bpe_decode(
            bpe_encode(df, words, bpe_vocab(merges, words)),
            bpe_vocab(merges, words),
        )


def test_bpe_train_early_stop_and_plan(spark):
    """Single-char vocabulary exhausts pairs -> training stops early with
    fewer rules; and the whole pipeline is JVM-only (no Python nodes in
    the pair-count or fold plans)."""
    from interference_spark.pipeline.bpe import (
        _pair_counts,
        bpe_train,
        merge_fold,
        word_table,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], "doc_id long, text string"
    )
    merges, words = bpe_train(df, n_merges=5)
    # only pair ever available is (a... none: all words are single chars
    assert merges.count() == 0
    assert {r.word: r.sym for r in words.collect()} == {"a": "a", "b": "b"}

    wt = word_table(
        spark.createDataFrame([(1, "abc abd")], "doc_id long, text string")
    )
    plan = (
        _pair_counts(wt)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "Arrow" not in plan, plan
    assert "partial_sum" in plan or "partial sum" in plan, plan  # map-side combine
    fplan = (
        wt.withColumn("sym", merge_fold(F.col("sym"), "a", "b"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in fplan and "Arrow" not in fplan, fplan


def test_substring_decontaminate_impls_agree(spark, monkeypatch):
    """Contains-join and Aho-Corasick paths (each forced by patching the
    cutoff) must agree exactly, including overlapping patterns, a
    pattern that is a prefix of another, multiple occurrences (counted
    once per pattern), a snippet listed twice (counted twice), and the
    empty-pattern-set edge (all docs reported clean)."""
    from interference_spark.pipeline import text
    from interference_spark.pipeline.text import substring_decontaminate

    # cutoff above any pattern count -> contains; -1 -> Aho-Corasick
    plans = {"contains": 10_000, "aho_corasick": -1}

    corpus = spark.createDataFrame(
        [
            (1, "xabcx"),          # hits ab, abc, bc
            (2, "zzzz"),           # hits zzz (once, though it occurs twice)
            (3, "clean text"),     # no hits
            (4, "abab"),           # ab twice -> still one pattern hit
            (5, ""),               # empty doc
        ],
        "doc_id long, text string",
    )
    pats = spark.createDataFrame(
        [("ab",), ("abc",), ("bc",), ("zzz",), ("",)], "snippet string"
    )
    twice = spark.createDataFrame([("ab",), ("ab",), ("b",)], "snippet string")
    empty = spark.createDataFrame([], "snippet string")
    want = {1: 3, 2: 1, 3: 0, 4: 1, 5: 0}
    for impl, cutoff in plans.items():
        monkeypatch.setattr(text, "SUBSTRING_CONTAINS_MAX", cutoff)
        got = {
            r.doc_id: (r.n_hits, r.contaminated)
            for r in substring_decontaminate(corpus, pats).collect()
        }
        assert got == {k: (v, v > 0) for k, v in want.items()}, impl
        got = {
            r.doc_id: r.n_hits
            for r in substring_decontaminate(corpus, twice).collect()
        }
        assert got == {1: 3, 2: 0, 3: 0, 4: 3, 5: 0}, impl
        got = {
            r.doc_id: r.n_hits
            for r in substring_decontaminate(corpus, empty).collect()
        }
        assert got == {i: 0 for i in range(1, 6)}, impl


def test_substring_decontaminate_plan_and_scale_parity(spark, monkeypatch):
    """The contains path must BROADCAST the snippets (never shuffle the
    corpus) and keep the scan JVM-only; the two plans (Aho-Corasick
    forced by patching the cutoff) must agree on real testdata with the
    entry's snippet rule."""
    from pyspark.sql import functions as F

    from interference_spark.pipeline import text
    from interference_spark.pipeline.text import substring_decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.substring("text", 1, 64).alias("snippet")
    )
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    out = substring_decontaminate(corpus, ev)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    # the per-doc count may shuffle, but nothing below the join: the
    # corpus reaches the contains predicate unshuffled
    lines = plan.splitlines()
    at = next(i for i, ln in enumerate(lines) if "BroadcastNestedLoopJoin" in ln)
    depth = len(lines[at]) - len(lines[at].lstrip(" :+-"))
    below = []
    for ln in lines[at + 1 :]:
        if len(ln) - len(ln.lstrip(" :+-")) <= depth:
            break
        below.append(ln)
    assert below, plan[:2000]
    assert not any(re.search(r"(?<![A-Za-z])Exchange ", ln) for ln in below), (
        plan[:2000]
    )
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]

    a = sorted(map(tuple, out.collect()))
    monkeypatch.setattr(text, "SUBSTRING_CONTAINS_MAX", -1)
    b = sorted(map(tuple, substring_decontaminate(corpus, ev).collect()))
    assert a == b


def test_substring_decontaminate_picks_plan_from_pattern_count(spark):
    """At or below ``SUBSTRING_CONTAINS_MAX`` snippets the default runs
    the broadcast contains join, above it Aho-Corasick in an Arrow UDF;
    empty snippet rows do not count toward the cutoff."""
    from interference_spark.pipeline.text import (
        SUBSTRING_CONTAINS_MAX,
        substring_decontaminate,
    )

    corpus = spark.createDataFrame(
        [(1, "p1 and p7"), (2, "nothing")], "doc_id long, text string"
    )

    def plan_for(n_pats):
        pats = spark.range(n_pats).selectExpr(
            "concat('p', id) AS snippet"
        ).union(spark.createDataFrame([("",)], "snippet string"))
        out = substring_decontaminate(corpus, pats)
        return out, out._jdf.queryExecution().executedPlan().toString()

    for n_pats, contains in (
        (SUBSTRING_CONTAINS_MAX, True),
        (SUBSTRING_CONTAINS_MAX + 1, False),
    ):
        out, plan = plan_for(n_pats)
        assert ("BroadcastNestedLoopJoin" in plan) == contains, plan[:2000]
        assert ("ArrowEvalPython" in plan) != contains, plan[:2000]
        got = {r.doc_id: r.n_hits for r in out.collect()}
        # doc 1 holds exactly the snippets p1 and p7
        assert got == {1: 2, 2: 0}, n_pats


def test_pq_train_encode_search(spark):
    """PQ contract: codes are in [0, k) with one per subspace; an
    in-corpus query vector ranks itself first (its codes minimize every
    ADC table entry); ADC distances equal the numpy reconstruction
    computed independently; dead codes keep their seed centroid; and the
    query-time plan is JVM-only (the encode UDF never runs at search)."""
    import numpy as np

    from interference_spark.pipeline.pq import (
        adc_table,
        pq_encode,
        pq_search,
        pq_train,
    )

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 16).round(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    m, k = 4, 8
    books = pq_train(df, m=m, k=k, iters=2)
    assert len(books) == m and all(len(sub) == k for sub in books)
    enc = pq_encode(df, books)
    codes = {r.vec_id: r.codes for r in enc.collect()}
    assert all(len(c) == m and all(0 <= x < k for x in c) for c in codes.values())

    # float32 storage truncates the query; use the stored values
    q = [float(x) for x in df.filter("vec_id = 3").first()["embedding"]]
    got = pq_search(enc, books, q, topk=5).collect()
    assert got[0].vec_id == 3  # self is the ADC minimum
    # ADC == independent numpy table lookup
    table = adc_table(books, q)
    for r in got:
        want = int(sum(table[s][codes[r.vec_id][s]] for s in range(m)))
        assert r.adist == want
    plan = (
        pq_search(enc, books, q, topk=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan[:1500]

    # under-seeded corpora fail loudly (used to silently train <k codes)
    tiny = spark.createDataFrame(
        [(i, [float(i), 0.0, 0.0, 0.0]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="at least k=8"):
        pq_train(tiny, m=2, k=8, iters=2)
    with pytest.raises(ValueError, match="empty"):
        pq_train(tiny.filter("vec_id < 0"), m=2, k=2, iters=1)
    # k == n is the boundary: every code seeds from a distinct vector
    books3 = pq_train(tiny, m=2, k=3, iters=2)
    import math as _math

    assert len(books3) == 2 and all(
        len(sub) == 3 and all(_math.isfinite(v) for _, cv in sub for v in cv)
        for sub in books3
    )


def test_pq_dim_not_divisible_raises(spark):
    from interference_spark.pipeline.pq import pq_train

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=2, k=1)


def test_ivfpq_build_search(spark):
    """IVF-PQ contract: the index stores (cid, m codes) per vector; an
    in-corpus query ranks itself first (its own cell is the top probe and
    its codes minimize every entry of that cell's ADC table); search
    touches only probed cells (candidates from unprobed cells are absent
    — a cid IN filter the partitioned store turns into directory
    pruning); and ADC totals match an independent numpy recomputation."""
    import numpy as np

    from interference_spark.pipeline.pq import (
        adc_table,
        ivfpq_build,
        ivfpq_search,
    )

    rng = np.random.RandomState(13)
    # two well-separated blobs so the coarse quantizer has real structure
    blob = np.concatenate(
        [rng.randn(30, 16) + 4.0, rng.randn(30, 16) - 4.0]
    ).round(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in blob[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    cents, books, enc = ivfpq_build(df, n_coarse=4, m=4, k=8, iters=2)
    rows = {r.vec_id: r for r in enc.collect()}
    assert len(rows) == 60
    assert all(len(r.codes) == 4 for r in rows.values())

    q = [float(x) for x in df.filter("vec_id = 7").first()["embedding"]]
    got = ivfpq_search(enc, cents, books, q, nprobe=2, topk=5).collect()
    assert got[0].vec_id == 7  # self is the minimum in its own cell

    # only probed cells contribute candidates
    from interference_spark.pipeline.similarity import probe_centroids_exact

    probes = set(probe_centroids_exact(cents, q, 2))
    all_hits = ivfpq_search(enc, cents, books, q, nprobe=2, topk=60).collect()
    assert {rows[r.vec_id].cid for r in all_hits} <= probes
    assert len(all_hits) < 60  # unprobed cells pruned

    # ADC equals independent numpy table lookups
    cmap = dict(cents)
    qa = np.asarray(q)
    tables = {
        cid: adc_table(books, list(qa - np.asarray(cmap[cid])))
        for cid in probes
    }
    for r in all_hits:
        e = rows[r.vec_id]
        want = int(sum(tables[e.cid][s][e.codes[s]] for s in range(4)))
        assert r.adist == want


def test_ivfpq_encode_matches_build(spark):
    """ivfpq_encode against the trained state reproduces build's own
    encoding for the training vectors, and assigns out-of-snapshot
    vectors to valid cells with in-range codes — the frozen-state
    incremental-ingest contract (no retraining drift)."""
    from interference_spark.pipeline.pq import ivfpq_build, ivfpq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    snap = emb.filter("vec_id % 2 = 0")
    cents, books, enc = ivfpq_build(snap, n_coarse=4, m=4, k=8, iters=1)
    again = ivfpq_encode(snap, cents, books)
    want = {r.vec_id: (r.cid, tuple(r.codes)) for r in enc.collect()}
    got = {r.vec_id: (r.cid, tuple(r.codes)) for r in again.collect()}
    assert got == want

    valid = {cid for cid, _ in cents}
    new = ivfpq_encode(emb.filter("vec_id % 2 = 1"), cents, books).collect()
    assert new and all(
        r.cid in valid and len(r.codes) == 4 and all(0 <= c < 8 for c in r.codes)
        for r in new
    )


def test_ivfpq_stored_probe_prunes_partitions(spark, tmp_path):
    """ivfpq_write + ivfpq_search_stored: the probe's cid IN-list becomes
    a PARTITION filter over the cid-partitioned index (directory pruning
    — the 100 TB probe path), and the pruned search returns exactly the
    in-memory ivfpq_search results."""
    import re

    from interference_spark.pipeline.pq import (
        ivfpq_build,
        ivfpq_search,
        ivfpq_search_stored,
        ivfpq_write,
    )
    from interference_spark.pipeline.similarity import probe_centroids_exact

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    cents, books, enc = ivfpq_build(emb, n_coarse=8, m=8, k=16, iters=1)
    path = str(tmp_path / "ivfpq")
    ivfpq_write(enc, path)

    got = ivfpq_search_stored(spark, path, cents, books, qvec, nprobe=2, topk=5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cid" in m.group(1), plan
    probes = probe_centroids_exact(cents, qvec, 2)
    assert all(str(int(p)) in m.group(1) for p in probes), plan
    want = ivfpq_search(enc, cents, books, qvec, nprobe=2, topk=5)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_bigram_lm_textbook(spark):
    """Hand-computed add-one bigram LM on a 2-doc corpus."""
    import math

    from interference_spark.pipeline.lm import (
        perplexity_filter,
        train_bigram_lm,
    )

    train = spark.createDataFrame(
        [(0, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    # train bigrams: (a,b)x3, (b,a)x1, (b,c)x1 ; contexts: a->3, b->2
    # vocab = {a,b,c} + OOV = 4
    lm = train_bigram_lm(train)
    assert {(r.c, r.w, r.cw) for r in lm.bigram_counts.collect()} == {
        ("a", "b", 3),
        ("b", "a", 1),
        ("b", "c", 1),
    }
    assert {(r.c, r.cc) for r in lm.context_counts.collect()} == {
        ("a", 3),
        ("b", 2),
    }
    assert lm.vocab.first()["v"] == 4

    score = spark.createDataFrame(
        [(1, "a b x"), (3, "zz yy"), (5, "solo"), (7, "  ")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in perplexity_filter(score, lm, 10.0).collect()}
    # doc 1: p(b|a) = (3+1)/(3+4), p(x|b) = (0+1)/(2+4)
    q = lambda p: math.floor(math.log(p) * 1e6)
    want1 = -(q(4 / 7) + q(1 / 6))
    assert out[1].n_bigrams == 2 and out[1].nll_micronats == want1
    assert out[1].nll_nats == want1 / (1e6 * 2.0)
    # doc 3: one bigram, unseen context -> uniform 1/V
    assert out[3].n_bigrams == 1
    assert out[3].nll_micronats == -q(1 / 4)
    # <2 tokens / blank: not scorable, absent
    assert 5 not in out and 7 not in out
    assert out[1].kept and out[3].kept


def test_bm25_scores_equal_oracle_exactly(spark):
    """Every matched document's BM25 score equals the `rank_bm25_topk`
    DuckDB oracle (its SQL without the top-15 LIMIT) bit for bit, on a
    seeded 500-document corpus over a 30-word vocabulary.  The oracle
    rounds each per-term score with CAST(ts AS DECIMAL(38,14)); a Spark
    decimal cast rounds some of these scores differently in the last
    digit."""
    import duckdb
    import numpy as np
    import pandas as pd

    from interference_spark import inventory
    from interference_spark.pipeline.retrieval import bm25_scores

    vocab = (
        "a agg batch big column customer data fast filter group hash join "
        "key line merge order part query row scan slow small sort spark "
        "stream table the value vector window"
    ).split()
    rng = np.random.default_rng(1)
    texts = [
        " ".join(vocab[j] for j in rng.integers(0, 30, int(rng.integers(10, 100))))
        for _ in range(500)
    ]
    pdf = pd.DataFrame({"doc_id": np.arange(500, dtype=np.int64), "text": texts})
    sql = inventory.oracle_sql()["rank_bm25_topk"]
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(con.execute(sql[: sql.rindex("LIMIT")]).fetchall())
    got = sorted(
        map(
            tuple,
            bm25_scores(
                spark.createDataFrame(pdf), ["vector", "hash", "stream"]
            ).collect(),
        )
    )
    assert len(got) == len(want) > 400
    assert got == want


def test_bm25_hand_check(spark):
    """BM25 on a 3-doc corpus against a direct numpy-free recomputation."""
    import math

    from interference_spark.pipeline.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(0, "x x y z"), (1, "x q q"), (2, "q q q q")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bm25_topk(docs, ["x", "q"], k=10).collect()}
    n, sum_dl = 3, 11
    avgdl = sum_dl / n

    def idf(dft):
        return math.floor(math.log(1.0 + (n - dft + 0.5) / (dft + 0.5)) * 1e6) / 1e6

    def ts(tf, dl, dft):
        return idf(dft) * (
            (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl)))
        )

    # doc0: x tf=2 dl=4; doc1: x tf=1, q tf=2, dl=3; doc2: q tf=4 dl=4
    assert out[0].n_terms_matched == 1
    assert out[1].n_terms_matched == 2
    assert abs(out[0].score - ts(2, 4, 2)) < 1e-9
    assert abs(out[1].score - (ts(1, 3, 2) + ts(2, 3, 2))) < 1e-9
    assert abs(out[2].score - ts(4, 4, 2)) < 1e-9
    # ranking: doc1 matches both terms and tops the list
    ranked = sorted(out.values(), key=lambda r: (-r.score, r.doc_id))
    assert ranked[0].doc_id == 1


def test_bm25_prunes_before_shuffle(spark):
    """The query-term isin filter must run BEFORE the tf aggregation's
    exchange — the shuffle carries |matching tokens|, not the corpus."""
    from interference_spark.pipeline.retrieval import bm25_scores

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        bm25_scores(docs, ["vector", "hash"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pre, _, post = plan.partition("Exchange")
    assert "vector" in plan
    # every exchange-side aggregate sees the already-filtered stream: the
    # isin Filter appears below (after, in tree print order) the first
    # exchange of the tf aggregation
    assert "Filter" in post


def test_ngram_novelty_hand_check(spark):
    """Trigram novelty against a tiny reference with known overlap."""
    from interference_spark.pipeline.text import ngram_novelty

    ref = spark.createDataFrame(
        [(0, "a b c d")], "doc_id long, text string"
    )  # ref trigrams: {a b c, b c d}
    cand = spark.createDataFrame(
        [
            (1, "a b c x"),   # {a b c, b c x}: 1 of 2 novel
            (3, "p q r s"),   # all 2 novel
            (5, "a b c a b c"),  # distinct {a b c, b c a, c a b}: 2 of 3 novel
            (7, "x y"),       # <3 tokens: absent
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_novelty(cand, ref, n=3).collect()}
    assert out[1].n_grams == 2 and out[1].n_novel == 1 and out[1].novelty == 0.5
    assert out[3].n_grams == 2 and out[3].n_novel == 2 and out[3].novelty == 1.0
    assert out[5].n_grams == 3 and out[5].n_novel == 2
    assert 7 not in out


def test_ivfpq_rerank_exact_tail(spark):
    """Re-rank output = exact cosine over exactly the ADC shortlist."""
    from interference_spark.pipeline.pq import (
        ivfpq_build,
        ivfpq_rerank,
        ivfpq_search,
    )
    from interference_spark.pipeline.similarity import (
        cosine_topk_exact_decimal,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    cents, books, enc = ivfpq_build(emb, n_coarse=8, m=8, k=16, iters=1)
    got = ivfpq_rerank(
        enc, emb, cents, books, qvec, nprobe=2, shortlist=15, topk=5
    ).collect()
    short_ids = {
        r.vec_id
        for r in ivfpq_search(
            enc, cents, books, qvec, nprobe=2, topk=15
        ).collect()
    }
    assert {r.vec_id for r in got} <= short_ids
    qdf = emb.filter("vec_id = 0")
    want = cosine_topk_exact_decimal(
        emb.filter(emb.vec_id.isin(list(short_ids))), qdf, k=5
    ).collect()
    assert [(r.vec_id, r.cosine) for r in got] == [
        (r.vec_id, r.cosine) for r in want
    ]


def test_random_projection_numpy_parity(spark):
    """RP output equals the numpy matmul with the same md5-derived signs,
    and approximately preserves pairwise distance on real embeddings."""
    import numpy as np

    from interference_spark.pipeline.linalg import (
        _achlioptas_sign,
        random_projection,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(20)
    rows = emb.collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    R = np.array(
        [[_achlioptas_sign(i, j) for j in range(16)] for i in range(64)]
    )
    got = random_projection(emb, out_dim=16, in_dim=64).collect()
    Y = np.zeros((len(rows), 16))
    ids = {r.vec_id: k for k, r in enumerate(rows)}
    for r in got:
        Y[ids[r.vec_id], r.j] = r.y
    want = X @ R / np.sqrt(16.0)
    assert np.allclose(Y, want, atol=1e-9)
    # JL property: projected pairwise distances within ~2x on average
    d0 = np.linalg.norm(X[0] - X[1:], axis=1)
    d1 = np.linalg.norm(Y[0] - Y[1:], axis=1)
    ratio = d1 / np.where(d0 == 0, 1, d0)
    assert 0.5 < float(np.median(ratio)) < 2.0


def test_bigram_lm_empty_train_is_uniform(spark):
    """Empty training slice -> V=1, p=1/V=1 everywhere, nll 0: the
    documented degenerate-but-defined behavior (no eager count job)."""
    from interference_spark.pipeline.lm import (
        perplexity_filter,
        train_bigram_lm,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    lm = train_bigram_lm(empty)
    out = perplexity_filter(
        spark.createDataFrame([(1, "a b c")], "doc_id long, text string"),
        lm,
        threshold_nats=0.5,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_bigrams == 2 and r.nll_micronats == 0
    assert r.nll_nats == 0.0 and r.kept


def test_containment_vs_jaccard_asymmetry(spark):
    """A short doc quoted inside a long one: containment fires, Jaccard
    stays low — the asymmetric signal the report exists for."""
    from interference_spark.pipeline.dedup import (
        ngram_containment_report,
        ngram_jaccard_pairs,
    )

    short = "abcdefgh"
    long = short + "0123456789" * 8
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "zzzzyyyyxxxx")],
        "doc_id long, text string",
    )
    rep = {r.doc_id: r for r in ngram_containment_report(docs, n=3, threshold=0.9).collect()}
    # every trigram of `short` appears in `long` -> containment 1.0
    assert rep[1].n_containers == 1 and rep[1].best_containment == 1.0
    # the long doc is NOT contained in the short one
    assert rep[2].n_containers == 0 and rep[2].best_containment == 0.0
    assert rep[3].n_containers == 0
    # symmetric jaccard misses the pair at the same bar
    jac = ngram_jaccard_pairs(docs, n=3, threshold=0.9).collect()
    assert not any({r.id_a, r.id_b} == {1, 2} for r in jac)


def test_containment_prefix_path_matches_naive(spark):
    """The prefix-filtered candidate path is lossless: identical report
    to the naive posting join on real documents."""
    from interference_spark.pipeline.dedup import ngram_containment_report

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(120)
    naive = {
        tuple(r)
        for r in ngram_containment_report(
            docs, n=3, threshold=0.8, prefix_filter=False
        ).collect()
    }
    pref = {
        tuple(r)
        for r in ngram_containment_report(
            docs, n=3, threshold=0.8, prefix_filter=True
        ).collect()
    }
    assert naive == pref and len(naive) == 120


def test_winnowing_guarantee(spark):
    """Winnowing's core property: two docs sharing a substring of length
    >= k + w - 1 share at least one fingerprint; a doc with no shared
    substring of that length has no partners."""
    from interference_spark.pipeline.text import winnow_fingerprints

    shared = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB"),
            (2, "cccc " + shared + " dddd"),
            (3, "totally unrelated content here"),
            (4, "ab"),  # shorter than k+w-1: excluded
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in winnow_fingerprints(docs, k=5, w=4).collect()}
    assert out[1].n_partners >= 1 and out[2].n_partners >= 1
    assert out[3].n_partners == 0
    assert 4 not in out
    # density: winnowing keeps far fewer fingerprints than positions
    assert 0 < out[1].n_fps < len("AAAA " + shared + " BBBB") - 4


@pytest.mark.parametrize("d", [8, 128])
def test_hash_kernel_error_restores_scoped_settings(spark, d):
    """A training frame without the label column fails analysis inside
    the hash-kernel core; the scoped AQE settings of the GD loop
    (``pipeline.iterative_stage_conf``) must be back at their prior
    values afterwards, on the dense (d=8) and the sparse (d=128) core."""
    from pyspark.errors import AnalysisException

    from interference_spark.pipeline import _ITER_CONFS
    from interference_spark.pipeline.text import hash_kernel_classifier

    def settings():
        return {k: spark.conf.get(k, None) for k in _ITER_CONFS}

    before = settings()
    train = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    score = spark.createDataFrame(
        [(1, "a b d", "en")], "doc_id long, text string, lang string"
    )
    with pytest.raises(AnalysisException):
        hash_kernel_classifier(train, score, d=d)
    assert settings() == before


def test_hash_kernel_classifier_matches_replica(spark):
    """The quantized batch-GD fit must reproduce a pure-Python replica of
    the spec (hash52 bucketing, floor-quantized moments, (S/n)/1e8 update
    chain) weight for weight and score for score; classes must separate
    when their vocabularies differ; empty training slice raises."""
    import hashlib
    import math

    from interference_spark.pipeline.text import hash_kernel_classifier

    def h52(word):
        return int(hashlib.md5(f"hk:{word}".encode()).hexdigest()[:13], 16)

    def replica(train_rows, score_rows, d, iters, lr, threshold):
        def feats(text):
            toks = text.strip().split()
            xs = [0.0] * d
            for t in toks:
                xs[h52(t) % d] += 1.0
            return [x / len(toks) for x in xs]

        tf = [(feats(t), 1.0 if lang == "en" else 0.0)
              for t, lang in train_rows if t.strip()]
        w = [0.0] * (d + 1)
        n = len(tf)
        for _ in range(iters):
            sb = 0
            ss = [0] * d
            for xs, y in tf:
                e = w[0]
                for j in range(d):
                    e = e + w[j + 1] * xs[j]
                e = e - y
                sb += math.floor(e * 1e8)
                for j in range(d):
                    ss[j] += math.floor(xs[j] * e * 1e8)
            w[0] = w[0] - lr * (sb / n / 1e8)
            for j in range(d):
                w[j + 1] = w[j + 1] - lr * (ss[j] / n / 1e8)
        out = {}
        for i, t in score_rows:
            if not t.strip():
                continue
            xs = feats(t)
            s = w[0]
            for j in range(d):
                s = s + w[j + 1] * xs[j]
            out[i] = (s, s >= threshold)
        return w, out

    rng_words_en = ["the", "cat", "sat", "mat", "dog"]
    rng_words_xx = ["zor", "blk", "qrt", "vnm", "wpl"]
    rows = []
    for i in range(20):
        pool = rng_words_en if i % 2 == 0 else rng_words_xx
        lang = "en" if i % 2 == 0 else "xx"
        rows.append((i, " ".join(pool[(i + j) % 5] for j in range(6)), lang))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    train = df.filter("doc_id < 16")
    w, scored = hash_kernel_classifier(
        train, df, d=4, iters=3, lr=0.5, threshold=0.5
    )
    want_w, want_scores = replica(
        [(t, lang) for _, t, lang in rows[:16]],
        [(i, t) for i, t, _ in rows],
        d=4, iters=3, lr=0.5, threshold=0.5,
    )
    assert w == want_w  # bit-identical quantized fit
    got = {r.doc_id: (r.qscore, r.keep) for r in scored.collect()}
    assert got == want_scores
    # the learned filter separates the two vocabularies
    assert all(got[i][1] for i in range(0, 20, 2))
    assert not any(got[i][1] for i in range(1, 20, 2))

    with pytest.raises(ValueError, match="empty training"):
        hash_kernel_classifier(df.filter("doc_id < 0"), df, d=2, iters=1)
    with pytest.raises(ValueError, match="d >= 1"):
        hash_kernel_classifier(train, df, d=0)


def test_hash_kernel_sparse_bit_identical_to_dense(spark):
    """The sparse (explode → groupBy-bucket) core is the SAME function as
    the dense d-column core, to the last bit: identical weights,
    identical scores, identical keep flags — because the ordered fold
    adds the nonzero w·x terms in the dense chain's ascending-bucket
    order and the skipped terms are exact IEEE ±0.0 adds.  Also: the
    public classifier dispatches on d, a head's fit does not depend on
    the other heads trained beside it, and an empty slice raises."""
    from interference_spark.pipeline.text import (
        _hk_dense,
        _hk_keep,
        _hk_sparse,
        hash_kernel_classifier,
    )

    rows = []
    vocab = ["the", "cat", "zor", "blk", "sat", "qrt", "mat", "vnm"]
    for i in range(24):
        lang = "en" if i % 3 == 0 else "xx"
        text = " ".join(vocab[(i * 7 + j) % 8] for j in range(1 + i % 9))
        rows.append((i, text, lang))
    rows.append((24, "   ", "en"))  # whitespace-only: both paths drop it
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    train = df.filter("doc_id < 18")

    def keep(scored):
        return {
            r.doc_id: (r.qscore, r.keep)
            for r in _hk_keep(scored, "doc_id", 0.5).collect()
        }

    for d, iters in ((4, 3), (16, 2), (1, 1)):
        wd, sd = _hk_dense(train, df, ["en"], d=d, iters=iters)
        ws, ss = _hk_sparse(train, df, ["en"], d=d, iters=iters)
        assert wd == ws, (d, iters)  # exact float equality, all d+1
        got_d, got_s = keep(sd), keep(ss)
        assert got_d == got_s, (d, iters)
        assert 24 not in got_s and len(got_s) == 24
        # one-vs-rest heads train independently: head 0 of a 2-head fit
        # is the 1-head fit, on both plans
        w2d, _ = _hk_dense(train, df, ["en", "xx"], d=d, iters=iters)
        w2s, _ = _hk_sparse(train, df, ["en", "xx"], d=d, iters=iters)
        assert w2d[0] == w2s[0] == wd[0], (d, iters)

    # the public classifier takes the dense core at small d, the sparse
    # core above the cutover
    w_small, _ = hash_kernel_classifier(train, df, d=4, iters=2)
    assert [w_small] == _hk_dense(train, df, ["en"], d=4, iters=2)[0]
    w_big, _ = hash_kernel_classifier(train, df, d=128, iters=1)
    assert [w_big] == _hk_sparse(train, df, ["en"], d=128, iters=1)[0]

    for core in (_hk_dense, _hk_sparse):
        with pytest.raises(ValueError, match="empty training"):
            core(df.filter("doc_id < 0"), df, ["en"], d=4, iters=1)


def test_multiclass_sparse_bit_identical_to_dense(spark):
    """The K-head sparse core is the SAME function as the dense core to
    the last bit — weights, predictions, best scores — and the public
    multiclass classifier carries d > 64 on the sparse core."""
    from interference_spark.pipeline.text import (
        _hk_argmax,
        _hk_dense,
        _hk_sparse,
        hash_kernel_multiclass,
    )

    rows = []
    vocab = ["the", "cat", "zor", "blk", "sat", "qrt", "mat", "vnm"]
    langs = ["en", "fr", "de"]
    for i in range(27):
        text = " ".join(vocab[(i * 5 + j) % 8] for j in range(1 + i % 7))
        rows.append((i, text, langs[i % 3]))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    train = df.filter("doc_id < 21")

    def preds(scored):
        return {
            r.doc_id: (r.lang_pred, r.best_score)
            for r in _hk_argmax(scored, langs, "doc_id").collect()
        }

    for d, iters in ((4, 2), (8, 3)):
        wd, sd = _hk_dense(train, df, langs, d=d, iters=iters)
        ws, ss = _hk_sparse(train, df, langs, d=d, iters=iters)
        assert wd == ws, (d, iters)
        assert preds(sd) == preds(ss), (d, iters)

    w_big, _ = hash_kernel_multiclass(
        train, df, classes=langs, d=128, iters=1
    )
    w_sparse, _ = _hk_sparse(train, df, langs, d=128, iters=1)
    assert list(w_big.values()) == w_sparse
    with pytest.raises(ValueError, match="empty training"):
        _hk_sparse(df.filter("doc_id < 0"), df, langs, d=4, iters=1)


def test_exact_substring_pairs_runs_and_filter_parity(spark):
    """Cross-corpus exact substring detection: the gram join finds
    exactly the pairs sharing a >=k-token run, max_run_tokens is the
    true longest common substring (diagonal islands — incl. the
    repeated-token degenerate case), and the ``max_posting_len``
    boilerplate filter changes nothing when no shingle exceeds the cap."""
    from interference_spark.pipeline.dedup import exact_substring_pairs

    shared = " ".join(f"s{i}" for i in range(10))  # 10-token shared run
    short = " ".join(f"t{i}" for i in range(5))  # 5 < k: must NOT fire
    docs_a = spark.createDataFrame(
        [
            (0, f"a0 a1 a2 {shared} a3 a4"),
            (2, f"b0 {short} b1 b2 b3 b4"),
            (4, "a a a a a a"),
        ],
        "doc_id long, text string",
    )
    docs_b = spark.createDataFrame(
        [
            (1, f"c0 c1 {shared} c2"),
            (3, f"d0 {short} d1 d2 d3 d4 d5"),
            (5, "a a a a a"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_shared_grams, r.max_run_tokens)
        for r in exact_substring_pairs(docs_a, docs_b, k=6).collect()
    }
    # 10-token run at k=6 -> 5 shared grams; 5-token run invisible;
    # "a"*6 x "a"*5 -> one distinct gram, LCS = 5... below k, so absent
    assert got == {(0, 1): (5, 10)}

    # repeated-token degenerate case, k small enough to fire
    got4 = {
        (r.doc_a, r.doc_b): (r.n_shared_grams, r.max_run_tokens)
        for r in exact_substring_pairs(docs_a, docs_b, k=4).collect()
    }
    assert got4[(4, 5)] == (1, 5)  # LCS "a a a a a" = 5 tokens, 1 gram

    # posting-length filter: every shingle here occurs at most once per
    # side, so a cap of 1 excludes nothing
    filt = {
        (r.doc_a, r.doc_b): (r.n_shared_grams, r.max_run_tokens)
        for r in exact_substring_pairs(
            docs_a, docs_b, k=6, max_posting_len=1
        ).collect()
    }
    assert filt == got


def test_remove_cross_corpus_substrings_semantics(spark):
    """Removal covers the UNION of shared-run intervals (overlapping
    shingle hits never double-remove), non-matching and shorter-than-k
    docs pass through verbatim, and a fully-covered doc empties."""
    from interference_spark.pipeline.dedup import (
        remove_cross_corpus_substrings,
    )

    docs_a = spark.createDataFrame(
        [(0, "s1 s2 s3 s4")], "doc_id long, text string"
    )
    docs_b = spark.createDataFrame(
        [
            (1, "a b s1 s2 s3 s4 c"),  # overlapping hits -> tokens 3..6 out
            (3, "p q r"),  # k-length but unshared -> verbatim
            (5, "s1 s2 s3"),  # fully covered -> empty
            (7, "aa bb"),  # shorter than k -> verbatim
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in remove_cross_corpus_substrings(docs_a, docs_b, k=3).collect()
    }
    assert got == {
        1: (7, 4, "a b c"),
        3: (3, 0, "p q r"),
        5: (3, 3, ""),
        7: (2, 0, "aa bb"),
    }


def test_exact_substring_posting_cap(spark):
    """max_posting_len: on a non-skewed corpus a generous cap is a no-op
    (parity with the exact path); on a skewed corpus the hot boilerplate
    shingle is excluded — pairs that only share boilerplate vanish,
    pairs with a genuine overlap keep it (minus the capped grams); and
    the removal half stops stripping the ubiquitous sentence while still
    removing true contamination."""
    from interference_spark.pipeline.dedup import (
        exact_substring_pairs,
        remove_cross_corpus_substrings,
    )

    shared = " ".join(f"s{i}" for i in range(8))
    docs_a = spark.createDataFrame(
        [(0, f"a0 a1 {shared} a2"), (2, "z0 z1 z2 z3 z4 z5")],
        "doc_id long, text string",
    )
    docs_b = spark.createDataFrame(
        [(1, f"b0 {shared} b1 b2"), (3, "y0 y1 y2 y3 y4 y5")],
        "doc_id long, text string",
    )
    exact = {
        (r.doc_a, r.doc_b): (r.n_shared_grams, r.max_run_tokens)
        for r in exact_substring_pairs(docs_a, docs_b, k=4).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): (r.n_shared_grams, r.max_run_tokens)
        for r in exact_substring_pairs(
            docs_a, docs_b, k=4, max_posting_len=100
        ).collect()
    }
    assert capped == exact and exact  # parity when nothing is hot

    # skew: one boilerplate sentence in many docs of both corpora
    boiler = "this content is provided as is without warranty"
    rows_a = [(0, f"a0 a1 {shared} a2")] + [
        (10 + i, f"{boiler} filler{i}") for i in range(12)
    ]
    rows_b = [(1, f"b0 {shared} b1 b2")] + [
        (100 + i, f"{boiler} other{i}") for i in range(12)
    ]
    skew_a = spark.createDataFrame(rows_a, "doc_id long, text string")
    skew_b = spark.createDataFrame(rows_b, "doc_id long, text string")
    uncapped = exact_substring_pairs(skew_a, skew_b, k=4).collect()
    # boilerplate alone creates 12x12 cross pairs
    assert len(uncapped) == 1 + 144
    cap = {
        (r.doc_a, r.doc_b): (r.n_shared_grams, r.max_run_tokens)
        for r in exact_substring_pairs(
            skew_a, skew_b, k=4, max_posting_len=8
        ).collect()
    }
    assert cap == {(0, 1): (5, 8)}  # genuine overlap survives intact

    cleaned = {
        r.doc_id: r.clean_text
        for r in remove_cross_corpus_substrings(
            skew_a, skew_b, k=4, max_posting_len=8
        ).collect()
    }
    assert cleaned[1] == "b0 b1 b2"  # true contamination still removed
    for i in range(12):  # boilerplate docs pass through verbatim
        assert cleaned[100 + i] == f"{boiler} other{i}"

    with pytest.raises(ValueError, match="max_posting_len"):
        exact_substring_pairs(docs_a, docs_b, k=4, max_posting_len=0)
    with pytest.raises(ValueError, match="max_posting_len"):
        remove_cross_corpus_substrings(docs_a, docs_b, k=4, max_posting_len=0)


def test_threshold_sweep_monotone_and_consistent(spark):
    """Sweep counts are monotone non-increasing in the threshold and the
    lowest bar agrees with a direct pair query at that bar."""
    from interference_spark.pipeline.dedup import (
        jaccard_threshold_sweep,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(150)
    rows = sorted(
        jaccard_threshold_sweep(docs, n=3).collect(),
        key=lambda r: r.threshold,
    )
    assert [r.threshold for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
    for lo, hi in zip(rows, rows[1:]):
        assert lo.n_pairs >= hi.n_pairs and lo.n_docs >= hi.n_docs
    direct = ngram_jaccard_pairs(docs, n=3, threshold=0.5).count()
    assert rows[0].n_pairs == direct
    with pytest.raises(ValueError, match="non-empty"):
        jaccard_threshold_sweep(docs, thresholds=())


# ---------------------------------------------------------------------
# r7: C4 line cleaning, Gopher shape rules, Heaps' law curve, RRF fusion
# ---------------------------------------------------------------------


def test_c4_clean_line_rules(spark):
    from interference_spark.pipeline.text import c4_clean

    docs = spark.createDataFrame(
        [
            # 3 good lines (≥5 words, terminal punct) → kept
            (0, "this line has exactly six words.\n"
                "another good line with seven words here!\n"
                "a third qualifying line of words?"),
            # too-short line + no terminal punct + javascript line
            (1, "too short.\n"
                "this line has no terminal punctuation at all\n"
                "enable JavaScript to view this page."),
            # lorem ipsum page-level flag
            (2, "lorem ipsum dolor sit amet consectetur adipiscing."),
            (3, ""),  # empty doc
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.asDict() for r in c4_clean(docs).collect()}
    assert got[0]["n_kept"] == 3 and got[0]["keep_doc"]
    assert got[0]["clean_text"].count("\n") == 2
    assert got[1]["n_kept"] == 0 and not got[1]["keep_doc"]
    assert got[2]["has_lorem"] and not got[2]["keep_doc"]
    assert got[2]["n_kept"] == 1  # line itself qualifies; doc flag kills it
    assert got[3]["n_kept"] == 0 and got[3]["clean_text"] == ""


def test_gopher_rules_each_rule_fires(spark):
    from interference_spark.pipeline.text import gopher_quality_flags

    good = " ".join(
        ["the quick brown fox jumps over that lazy dog with style and"] * 5
    )  # 55 words, mean len in range, stopwords present
    docs = spark.createDataFrame(
        [
            (0, good),
            (1, "too few words to pass the count rule."),
            (2, " ".join(["###"] * 60)),  # symbols, no alpha, no stopwords
            (3, "\n".join(["- bullet %d of the list with that thing" % i
                           for i in range(10)])),
            # Rae A1.1 applies the two 0.1 symbol ratios SEPARATELY: 2
            # unicode ellipses over 10 words trips ONLY the ellipsis rule
            (4, "the cat… sat on that mat… with nine extra words"),
            # and 2 hashes over 10 words trips ONLY the hash rule
            (5, "the cat# sat on that mat# with nine extra words"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.asDict() for r in gopher_quality_flags(docs).collect()}
    assert got[0]["keep_doc"], got[0]
    assert not got[1]["r_word_count"]
    assert not got[2]["r_hash_ratio"] and not got[2]["r_alpha_words"]
    assert not got[2]["r_stopwords"]
    # all 10 lines bulleted → 10·10 > 9·10 fails the ≤90% rule
    assert not got[3]["r_bullet_lines"]
    assert not got[4]["r_ellipsis_ratio"] and got[4]["r_hash_ratio"]
    assert not got[5]["r_hash_ratio"] and got[5]["r_ellipsis_ratio"]


def test_heaps_curve_counts(spark):
    from interference_spark.pipeline.text import heaps_curve

    # bucket = floor(doc_id * 2 / 4): docs 0,1 → bucket 0; 2,3 → bucket 1
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "b c"), (2, "c d"), (3, "a e")],
        "doc_id long, text string",
    )
    rows = {r.bucket: r for r in heaps_curve(docs, n_buckets=2).collect()}
    assert rows[0].cum_tokens == 4 and rows[0].cum_vocab == 3  # a b c
    assert rows[1].cum_tokens == 8 and rows[1].cum_vocab == 5  # + d e


def test_rrf_fusion_ranks_and_scores(spark):
    from interference_spark.pipeline.retrieval import rrf_fusion_topk

    docs = spark.createDataFrame(
        [
            (1, "vector vector vector"),  # strongest lexical
            (2, "vector hash"),
            (3, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(2, [1.0, 0.0]), (3, [0.9, 0.1]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = rrf_fusion_topk(
        docs, emb, ["vector", "hash"], [1.0, 0.0], k=10, depth=10
    ).collect()
    by_id = {r.doc_id: r for r in got}
    # doc 2: lexical rank 2 (one 'vector' + 'hash' term) and semantic rank 1
    assert by_id[2].sem_rank == 1
    assert by_id[3].lex_rank is None and by_id[3].sem_rank == 2
    assert by_id[1].sem_rank == 3
    for r in got:
        want = (1.0 / (60 + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (60 + r.sem_rank) if r.sem_rank else 0.0
        )
        assert abs(r.rrf_score - want) < 1e-15
    # fused order: doc 2 (in both lists) first
    assert got[0].doc_id == 2


def test_dsir_log_weights_prefer_target_like_docs(spark):
    from interference_spark.pipeline.lm import dsir_log_weights, train_bigram_lm

    target = spark.createDataFrame(
        [(100, "the cat sat on the mat"), (101, "the cat ate the fish")],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),      # verbatim target-like
            (1, "xs qq zz rr ww vv"),           # nothing target-like
            (2, "the cat"),                      # 1 bigram, target-seen
        ],
        "doc_id long, text string",
    )
    t_lm = train_bigram_lm(target)
    r_lm = train_bigram_lm(raw)
    got = {r.doc_id: r for r in dsir_log_weights(raw, t_lm, r_lm).collect()}
    assert set(got) == {0, 1, 2}
    assert got[0].n_bigrams == 5 and got[2].n_bigrams == 1
    # per-bigram mean weight: target-like text must beat the OOV doc
    assert (got[0].logw_micronats / got[0].n_bigrams) > (
        got[1].logw_micronats / got[1].n_bigrams
    )
    # a doc with <2 tokens is absent, not zero-weighted
    single = spark.createDataFrame([(9, "one")], "doc_id long, text string")
    assert dsir_log_weights(single, t_lm, r_lm).count() == 0


def test_dsir_auto_broadcast_paths_bit_identical(spark, monkeypatch):
    """The merged bigram-lookup row count picks one of three join tiers
    (exact-key broadcast, hashed-key broadcast, hashed-key shuffle); the
    cutoffs are module constants, so lowering them reaches every tier.
    Each tier runs its own plan, and the quantized-micronat weights are
    BIT-identical on all three (VERDICT r7 ask #6 / ADVICE r7)."""
    from interference_spark.pipeline import lm
    from interference_spark.pipeline.lm import dsir_log_weights, train_bigram_lm

    target = spark.createDataFrame(
        [(100, "the cat sat on the mat"), (101, "the cat ate the fish")],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "xs qq zz rr ww vv"),
         (2, "the cat ate a fish on a mat")],
        "doc_id long, text string",
    )
    t_lm, r_lm = train_bigram_lm(target), train_bigram_lm(raw)

    def run(bc_max, hashed_bc_max):
        monkeypatch.setattr(lm, "_DSIR_BROADCAST_MAX_ROWS", bc_max)
        monkeypatch.setattr(lm, "_DSIR_HASHED_BROADCAST_MAX_ROWS", hashed_bc_max)
        df = dsir_log_weights(raw, t_lm, r_lm)
        rows = sorted(
            (r.doc_id, r.n_bigrams, r.logw_micronats) for r in df.collect()
        )
        # the final (post-AQE) plan of the run that produced the rows
        return rows, df._jdf.queryExecution().executedPlan().toString()

    # no size-based broadcast, so AQE cannot turn the shuffle tier's
    # sort-merge joins into broadcasts and hide it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        exact_bc, exact_plan = run(  # the shipped cutoffs
            lm._DSIR_BROADCAST_MAX_ROWS, lm._DSIR_HASHED_BROADCAST_MAX_ROWS
        )
        hashed_bc, hashed_plan = run(0, 50_000_000)
        shuffled, shuffled_plan = run(0, 0)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    assert exact_bc == hashed_bc == shuffled
    assert len(exact_bc) == 3
    # the stream-side lookup joins, by key (the LM merges below them are
    # full-outer sort-merge joins on every tier)
    # exact-key broadcast: the lookups join on the raw (c, w) / c keys
    assert re.search(r"BroadcastHashJoin \[c#\d+, w#\d+\]", exact_plan), (
        exact_plan[:2000]
    )
    assert "__hb" not in exact_plan, exact_plan[:2000]
    # hashed-key broadcast: 8-byte keys, still no stream shuffle
    assert re.search(r"BroadcastHashJoin \[__hb", hashed_plan), hashed_plan[:2000]
    assert not re.search(r"SortMergeJoin \[__hb", hashed_plan), hashed_plan[:2000]
    # hashed-key shuffle: sort-merge joins on the hashed keys, no broadcast
    assert re.search(r"SortMergeJoin \[__hb", shuffled_plan), shuffled_plan[:2000]
    assert not re.search(r"BroadcastHashJoin \[(__hb|c#)", shuffled_plan), (
        shuffled_plan[:2000]
    )


def test_zipf_slope_on_exact_power_law(spark):
    from interference_spark.pipeline.text import zipf_slope

    # counts 8,4,2,1 over ranks 1..4: not an exact log-log line (ln is
    # quantized), but slope must be strongly negative and near
    # -ln(2)/mean-slope of the decay; check sign, range, and n_top
    docs = spark.createDataFrame(
        [(0, "a " * 8 + "b " * 4 + "c " * 2 + "d")],
        "doc_id long, text string",
    )
    row = zipf_slope(docs, top_n=10).collect()[0]
    assert row.n_top == 4
    assert -3.5 < row.slope < -0.5
    # intercept is the fitted ln-count (micronats) at rank 1 > 0
    assert row.intercept_micronats > 0


def test_zipf_slope_degenerate_single_token_is_null(spark):
    # n_top == 1 zeroes the regression denominator exactly; the guard
    # must return NULL (not raise ANSI DIVIDE_BY_ZERO) — ADVICE r7
    from interference_spark.pipeline.text import zipf_slope

    docs = spark.createDataFrame(
        [(0, "same same same same")], "doc_id long, text string"
    )
    row = zipf_slope(docs, top_n=10).collect()[0]
    assert row.n_top == 1
    assert row.slope is None and row.intercept_micronats is None


def test_unigram_viterbi_min_cost_and_longest_tiebreak(spark):
    from interference_spark.pipeline.unigram import viterbi_segment

    words = spark.createDataFrame(
        [("abab", 3), ("abc", 1)], "word string, freq long"
    )
    # 'abab' via 2x'ab' costs 10+10=20 < 4 chars at 9 each; 'abc' must
    # tie-break 'ab'+'c' (18) vs 'a'+'bc'(18) toward the LONGEST FINAL
    # piece ('bc')
    pieces = spark.createDataFrame(
        [("a", 9), ("b", 9), ("c", 9), ("ab", 10), ("bc", 9)],
        "piece string, cost long",
    )
    got = {r.word: r.sym for r in viterbi_segment(words, pieces).collect()}
    assert got["abab"] == "ab ab"
    assert got["abc"] == "a bc"


def test_unigram_fertility_vs_bpe(spark):
    """VERDICT r7 ask #4: fertility (subwords per token) comparison of
    the trained unigram-LM tokenizer vs BPE on the same fixture corpus.
    Both segmentations cover every token; unigram must beat the
    character baseline (it learned multi-char pieces)."""
    from interference_spark.pipeline.bpe import bpe_train, subword_stats
    from interference_spark.pipeline.unigram import unigram_train

    corpus = [
        (i, "en", "the cat sat on the mat " * 3 + "catcat ab abab")
        for i in range(4)
    ] + [(9, "en", "the mat cat sat abab")]
    docs = spark.createDataFrame(corpus, "doc_id long, lang string, text string")
    _merges, bpe_words = bpe_train(docs, n_merges=8)
    _pieces, uni_words = unigram_train(docs, iters=2, seed_multi=50)
    b = {r.lang: r for r in subword_stats(docs, bpe_words).collect()}
    u = {r.lang: r for r in subword_stats(docs, uni_words).collect()}
    # identical token coverage
    assert b["en"].n_tokens == u["en"].n_tokens > 0
    # character-split fertility baseline = mean word length
    char_fert = sum(
        len(w) for _, _, t in corpus for w in t.split()
    ) / sum(len(t.split()) for _, _, t in corpus)
    for r in (b["en"], u["en"]):
        assert 1.0 <= r.subwords_per_token <= char_fert
    # unigram's learned pieces beat the char baseline by a clear margin
    assert u["en"].subwords_per_token < 0.75 * char_fert


def test_collapse_stutter_first_of_run_semantics(spark):
    """Token-stutter collapse: runs reduce to their first token, counts
    report tokens seen vs dropped, non-adjacent repeats survive, and
    whitespace normalizes to single spaces."""
    from interference_spark.pipeline.text import collapse_stutter

    df = spark.createDataFrame(
        [
            (0, "a a the the the b"),
            (1, "x"),
            (2, "  y  y  "),
            (3, "a b a b"),  # non-adjacent repeats are NOT stutter
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in collapse_stutter(df).collect()}
    assert (got[0].n_tokens, got[0].n_collapsed, got[0].clean_text) == (
        6, 3, "a the b",
    )
    assert (got[1].n_tokens, got[1].n_collapsed, got[1].clean_text) == (1, 0, "x")
    assert (got[2].n_tokens, got[2].n_collapsed, got[2].clean_text) == (2, 1, "y")
    assert (got[3].n_tokens, got[3].n_collapsed, got[3].clean_text) == (
        4, 0, "a b a b",
    )


def test_backoff_score_all_four_levels(spark):
    """Stupid-backoff semantics: a fixture where one scored doc hits all
    four levels — trigram head, bigram backoff (x0.4), unigram backoff
    (x0.16), OOV floor — with hand-computed probabilities."""
    import math

    from interference_spark.pipeline.lm import backoff_score, train_backoff_lm

    train = spark.createDataFrame(
        # tokens: a b c a b d  -> trigrams: (a,b,c) (b,c,a) (c,a,b) (a,b,d)
        [(0, "a b c a b d")],
        "doc_id long, text string",
    )
    lm = train_backoff_lm(train)
    # N = 6 tokens, V = 4 distinct + 1 = 5
    score = spark.createDataFrame(
        [
            # (a,b,c): trigram seen, p = ct(1)/cb(a,b)=1/2
            # (b,c,b): tri unseen, bigram (c,b) unseen, unigram b seen:
            #          p = .4*(.4*(cu(b)=2 / N=6))
            # (c,b,a): tri unseen, bigram (b,a) unseen, unigram a:
            #          p = .4*(.4*(2/6))
            # (b,a,z): tri unseen, bigram (a,z) unseen, z unseen -> OOV
            #          floor: p = .4*(.4*(1/(N+V))) = .16/11
            (1, "a b c b a z"),
            # (d,a,b): tri unseen, bigram (a,b) SEEN cb=2, cu(a)=2:
            #          p = .4*(2/2)
            (2, "d a b"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in backoff_score(score, lm).collect()}
    r1, r2 = rows[1], rows[2]
    assert (r1.n_tri_hits, r1.n_big_hits, r1.n_uni_hits, r1.n_oov) == (1, 0, 2, 1)
    assert (r2.n_tri_hits, r2.n_big_hits, r2.n_uni_hits, r2.n_oov) == (0, 1, 0, 0)
    v = 5  # distinct train unigrams {a,b,c,d} + 1
    n = 6
    assert v == 4 + 1

    def q(p):
        return math.floor(math.log(p) * 1e6)

    want1 = -(
        q(1.0 / 2.0)
        + q(0.4 * (0.4 * (2.0 / n)))
        + q(0.4 * (0.4 * (2.0 / n)))
        + q(0.4 * (0.4 * (1.0 / (n + v))))
    )
    want2 = -q(0.4 * (2.0 / 2.0))
    assert r1.nll_micronats == want1
    assert r2.nll_micronats == want2


def test_perplexity_buckets_terciles_and_remainder_rule(spark):
    """CCNet bucketing semantics: per-language ntile(3) over mean NLL —
    head gets the LOWEST-perplexity docs, the remainder row lands in
    head (ntile's first-groups rule), and bucket NLLs are monotone
    head ≤ middle ≤ tail."""
    from interference_spark.pipeline.lm import (
        perplexity_buckets,
        train_bigram_lm,
    )

    train = spark.createDataFrame(
        [(100, "en", "a b a b a b a b")], "doc_id long, lang string, text string"
    )
    # 7 docs, increasingly off-distribution => 3/2/2 split
    score = spark.createDataFrame(
        [
            (0, "en", "a b a b a b"),
            (1, "en", "a b a b"),
            (2, "en", "a b"),
            (3, "en", "a b b a"),
            (4, "en", "b a b a"),
            (5, "en", "z z z z"),
            (6, "en", "z q z q"),
        ],
        "doc_id long, lang string, text string",
    )
    lm = train_bigram_lm(train)
    rows = perplexity_buckets(score, lm).collect()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    assert sorted(len(v) for v in by_bucket.values()) == [2, 2, 3]
    assert len(by_bucket["head"]) == 3  # remainder row goes to head
    assert max(r.nll_nats for r in by_bucket["head"]) <= min(
        r.nll_nats for r in by_bucket["middle"]
    )
    assert max(r.nll_nats for r in by_bucket["middle"]) <= min(
        r.nll_nats for r in by_bucket["tail"]
    )
    # the perfectly in-distribution docs sit in head, the OOV ones in tail
    assert {r.doc_id for r in by_bucket["tail"]} == {5, 6}


def test_perplexity_bucket_cutoffs_matches_exact_terciles(spark):
    """The sketch-cutoff variant (r9): same output shape as the ntile
    bucketing, monotone buckets, and — on a fixture whose NLL values sit
    in distinct histogram bins — the SAME assignment as the exact
    terciles.  Cross-language independence included (one language's
    scores must not shift another's cutoffs)."""
    from interference_spark.pipeline.lm import (
        perplexity_bucket_cutoffs,
        perplexity_buckets,
        train_bigram_lm,
    )

    train = spark.createDataFrame(
        [(100, "en", "a b a b a b a b"), (101, "fr", "c d c d c d")],
        "doc_id long, lang string, text string",
    )
    score = spark.createDataFrame(
        [
            (0, "en", "a b a b a b"),
            (1, "en", "a b a b"),
            (2, "en", "a b"),
            (3, "en", "a b b a"),
            (4, "en", "b a b a"),
            (5, "en", "z z z z"),
            (6, "en", "z q z q"),
            (7, "fr", "c d c d"),
            (8, "fr", "d c"),
            (9, "fr", "z z z"),
        ],
        "doc_id long, lang string, text string",
    )
    lm = train_bigram_lm(train)
    # the [2,6) default is corpus-calibrated; this toy fixture's NLLs sit
    # around 0.5-1.7 nats, so pass the domain explicitly (dyadic width)
    got = {
        r.doc_id: r
        for r in perplexity_bucket_cutoffs(
            score, lm, lo=0.0, hi=8.0
        ).collect()
    }
    exact = {r.doc_id: r for r in perplexity_buckets(score, lm).collect()}
    assert set(got) == set(exact)
    assert got[0].bucket == "head" and got[5].bucket == "tail"
    for lang in ("en", "fr"):
        g = sorted(
            (r for r in got.values() if r.lang == lang),
            key=lambda r: r.nll_nats,
        )
        order = {"head": 0, "middle": 1, "tail": 2}
        ranks = [order[r.bucket] for r in g]
        assert ranks == sorted(ranks), g  # monotone in NLL
    # distinct-bin fixture: sketch assignment == exact ntile assignment
    assert {d: r.bucket for d, r in got.items()} == {
        d: r.bucket for d, r in exact.items()
    }


def test_kneser_ney_matches_python_replica(spark):
    """kn_score vs a driver-side textbook replica of interpolated KN
    (D = 0.75, continuation counts, full-level backoff on unseen
    contexts, OOV floor 1/(N1+(··)+V)) on a toy corpus covering every
    branch: seen trigram, unseen trigram in a seen context, unseen
    context, unseen middle, and OOV."""
    import math
    from collections import Counter

    from interference_spark.pipeline.lm import kn_score, train_kn_lm

    train_docs = [
        "a b c a b d a b c e",
        "b c a b c d e a",
        "x y z x y w",
    ]
    score_docs = [
        (0, "a b c d e"),        # mix of seen trigrams and backoffs
        (1, "a b c a b c"),      # fully in-corpus
        (2, "q q q a b"),        # OOV head
        (3, "x y z q w"),        # unseen continuations in seen contexts
    ]
    D = 0.75
    tri = Counter()
    big = Counter()
    uni = Counter()
    for t in train_docs:
        ws = t.split()
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
        tri.update(zip(ws, ws[1:], ws[2:]))
    ctx2_cnt = Counter()
    ctx2_types = Counter()
    contb = Counter()
    for (c2, c1, w), ct in tri.items():
        ctx2_cnt[(c2, c1)] += ct
        ctx2_types[(c2, c1)] += 1
        contb[(c1, w)] += 1
    mid = Counter()
    for (c1, _w), nbw in contb.items():
        mid[c1] += nbw
    fol = Counter()
    contu = Counter()
    for (c, w) in big:
        fol[c] += 1
        contu[w] += 1
    nbt = len(big)
    v = len(uni) + 1

    def p_kn(c2, c1, w):
        p_u = (
            contu[w] / nbt if w in contu else 1.0 / (nbt + v)
        )
        if c1 in mid:
            p_b = max(contb.get((c1, w), 0) - D, 0.0) / mid[c1] + (
                D * fol[c1] / mid[c1]
            ) * p_u
        else:
            p_b = p_u
        if (c2, c1) in ctx2_cnt:
            return max(tri.get((c2, c1, w), 0) - D, 0.0) / ctx2_cnt[
                (c2, c1)
            ] + (D * ctx2_types[(c2, c1)] / ctx2_cnt[(c2, c1)]) * p_b
        return p_b

    want = {}
    for did, t in score_docs:
        ws = t.split()
        logq = [
            math.floor(math.log(p_kn(*tg)) * 1e6)
            for tg in zip(ws, ws[1:], ws[2:])
        ]
        want[did] = (len(logq), -sum(logq))

    lm = train_kn_lm(
        spark.createDataFrame(
            list(enumerate(train_docs)), "doc_id long, text string"
        )
    )
    got = {
        r.doc_id: (r.n_trigrams, r.nll_micronats)
        for r in kn_score(
            spark.createDataFrame(score_docs, "doc_id long, text string"),
            lm,
        ).collect()
    }
    assert got == want
    # level diagnostics: doc 2's first trigram is OOV, doc 1 is all-tri
    rows = {
        r.doc_id: r
        for r in kn_score(
            spark.createDataFrame(score_docs, "doc_id long, text string"),
            lm,
        ).collect()
    }
    assert rows[1].n_tri_hits == rows[1].n_trigrams
    assert rows[2].n_oov >= 1


def test_ngram_jaccard_pairs_empty_corpus_returns_typed_empty(spark):
    """A dedup stage running on a fully-filtered survivor set (zero
    docs) must return a typed empty pair table, not crash — the r9
    capstone probe hit an IndexError in the bitmap plan's popcount
    chain when the vocabulary was empty."""
    from interference_spark.pipeline.dedup import ngram_jaccard_pairs

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = ngram_jaccard_pairs(empty)
    assert out.columns == ["id_a", "id_b", "jaccard"]
    assert out.count() == 0


def test_backoff_counts_merge_then_score_bit_equal(spark):
    """The backoff model IS its count triple: deltas computed on two
    disjoint halves, merged with one keyed sum, reconstructed via
    backoff_lm_from_counts — scoring must be BIT-equal to a fresh
    train_backoff_lm on the union (totals derived from the unigram
    slice included)."""
    from interference_spark.pipeline.lm import (
        backoff_count_deltas,
        backoff_lm_from_counts,
        backoff_score,
        merge_backoff_counts,
        train_backoff_lm,
    )

    corpus = spark.createDataFrame(
        [
            (0, "a b c a b c a"),
            (1, "a b d c b a"),
            (2, "c c c a b"),
            (3, "z q a b c"),
            (4, "b"),
        ],
        "doc_id long, text string",
    )
    deltas = backoff_count_deltas(corpus.filter("doc_id % 2 = 0")).unionByName(
        backoff_count_deltas(corpus.filter("doc_id % 2 = 1"))
    )
    lm_inc = backoff_lm_from_counts(merge_backoff_counts(deltas))
    lm_ref = train_backoff_lm(corpus)
    score = spark.createDataFrame(
        [(10, "a b c a b"), (11, "z z z q a"), (12, "c b a d")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: tuple(r) for r in backoff_score(score, lm_inc).collect()
    }
    want = {
        r.doc_id: tuple(r) for r in backoff_score(score, lm_ref).collect()
    }
    assert got == want
    # totals reconstruct exactly (N = sum unigrams, V = distinct + 1)
    assert lm_inc.totals.collect() == lm_ref.totals.collect()


def test_kn_from_counts_merge_then_score_bit_equal(spark):
    """One delta store serves BOTH scoring models (r10): the KN
    statistics are type counts over the raw n-gram tables, exactly
    recoverable from the merged backoff count triple — kn_lm_from_counts
    on merged halves scores bit-equal to train_kn_lm on the union."""
    from interference_spark.pipeline.lm import (
        backoff_count_deltas,
        kn_lm_from_counts,
        kn_score,
        merge_backoff_counts,
        train_kn_lm,
    )

    corpus = spark.createDataFrame(
        [
            (0, "a b c a b c a"),
            (1, "a b d c b a"),
            (2, "c c c a b"),
            (3, "z q a b c"),
            (4, "b"),
        ],
        "doc_id long, text string",
    )
    deltas = backoff_count_deltas(corpus.filter("doc_id % 2 = 0")).unionByName(
        backoff_count_deltas(corpus.filter("doc_id % 2 = 1"))
    )
    lm_inc = kn_lm_from_counts(merge_backoff_counts(deltas))
    lm_ref = train_kn_lm(corpus)
    score = spark.createDataFrame(
        [(10, "a b c a b"), (11, "z z z q a"), (12, "c b a d")],
        "doc_id long, text string",
    )
    got = {r.doc_id: tuple(r) for r in kn_score(score, lm_inc).collect()}
    want = {r.doc_id: tuple(r) for r in kn_score(score, lm_ref).collect()}
    assert got == want
    assert lm_inc.totals.collect() == lm_ref.totals.collect()


def test_gumbel_topk_select_seeded_and_weight_sensitive(spark):
    """Seeded Gumbel-top-k: identical seed → identical selection;
    different seeds → different draws; a dominant log-weight is always
    selected (Gumbel noise is ~±a few nats, the gap here is 1000)."""
    from interference_spark.pipeline.lm import gumbel_topk_select

    rows = [(i, 10, 0) for i in range(50)] + [(99, 10, 1_000_000_000)]
    w = spark.createDataFrame(
        rows, "doc_id long, n_bigrams long, logw_micronats long"
    )
    pick = lambda seed: [  # noqa: E731
        r.doc_id
        for r in gumbel_topk_select(w, k=5, seed=seed)
        .orderBy("doc_id")
        .collect()
    ]
    a1, a2, b = pick("s1"), pick("s1"), pick("s2")
    assert a1 == a2  # replayable
    assert a1 != b  # seed-sensitive (50 uniform docs, P[equal] ~ 1e-6)
    assert 99 in a1 and 99 in b  # the dominant weight always survives
    # keys are exact integers: key - logw is the pure Gumbel part,
    # identical for doc 99 regardless of the other docs present
    k1 = {
        r.doc_id: r.key_micronats - r.logw_micronats
        for r in gumbel_topk_select(w, k=51, seed="s1").collect()
    }
    k2 = {
        r.doc_id: r.key_micronats - r.logw_micronats
        for r in gumbel_topk_select(w.limit(10), k=10, seed="s1").collect()
    }
    for d in k2:
        assert k1[d] == k2[d]  # per-doc noise depends only on (seed, id)


@pytest.mark.parametrize("n_chars", [12, 2600])
def test_wordpiece_over_cap_fallback_matches_fused(spark, monkeypatch, n_chars):
    """Above ``pipeline.DRIVER_COLLECT_CAP`` a round takes the distributed
    plan (persisted fused counts, symbol counts re-entered as a map
    literal, or as a broadcast-joined table above 4096 symbols).  With
    the cap lowered to a few rows, both fallbacks learn the same merge
    table as the under-cap driver argmax, row for row and score double
    for score double, and leave the same segmentations.  Once a round has
    come back over the cap, the next round's probe reads the persisted
    fused table, so the distributed plan does not compute it again: a
    later over-cap round runs 6 jobs (7 with the broadcast lookup) —
    fused-count shuffle, cache materialization, probe, symbol counts,
    argmax, checkpoint — where recomputing the table ran one more."""
    import numpy as np

    from interference_spark import pipeline
    from interference_spark.pipeline import wordpiece

    rng = np.random.default_rng(5)
    alphabet = [chr(0x4E00 + i) for i in range(n_chars)]
    if n_chars < 100:  # skewed draw: some pairs repeat and win merges
        p = 1.0 / np.arange(1, n_chars + 1)
        n_words = 30
    else:  # uniform draw: most characters start some word, too
        p = np.ones(n_chars)
        n_words = 6000
    words = [
        "".join(rng.choice(alphabet, int(rng.integers(2, 6)), p=p / p.sum()))
        for _ in range(n_words)
    ]
    docs = spark.createDataFrame(
        [(i, " ".join(words[i : i + 10])) for i in range(0, n_words, 10)],
        "doc_id long, text string",
    )
    segs0 = [[w[0]] + ["##" + c for c in w[1:]] for w in set(words)]
    syms = {t for seg in segs0 for t in seg}
    pairs = {(a, b) for seg in segs0 for a, b in zip(seg, seg[1:])}
    assert len(syms) + len(pairs) <= pipeline.DRIVER_COLLECT_CAP
    if n_chars > 100:
        assert len(syms) > 4096  # the broadcast-join lookup, not the map
    sc = spark.sparkContext._jsc.sc()

    def train(n_merges=3):
        first = int(sc.dagScheduler().nextJobId())
        merges, segs = wordpiece.wordpiece_train(docs, n_merges=n_merges)
        jobs = int(sc.dagScheduler().nextJobId()) - first
        return (
            [tuple(r) for r in merges.orderBy("merge_rank").collect()],
            sorted(map(tuple, segs.select("word", "sym").collect())),
        ), jobs

    fused, _ = train()
    monkeypatch.setattr(pipeline, "DRIVER_COLLECT_CAP", 4)
    fallback, jobs3 = train()
    assert len(fused[0]) == 3
    assert fallback == fused
    _, jobs2 = train(n_merges=2)
    assert jobs3 - jobs2 == 6 + (n_chars > 100), (jobs2, jobs3)


def test_wordpiece_argmax_is_likelihood_gain_not_frequency(spark):
    """WordPiece's defining difference from BPE: the merge argmax is
    cnt(pair)/(cnt(l)·cnt(r)), not raw pair frequency.  Fixture: 'ab'
    appears 10 times, 'cd' 9 — BPE would merge (a,##b) first; WordPiece
    must merge (c,##d) first (score 9/81 > 10/100) and keep the right's
    ## marker out of the merged piece."""
    from interference_spark.pipeline.wordpiece import wordpiece_train

    docs = spark.createDataFrame(
        [(0, "ab " * 10 + "cd " * 9)], "doc_id long, text string"
    )
    merges, words = wordpiece_train(docs, n_merges=2)
    rows = {int(r.merge_rank): r for r in merges.collect()}
    assert (rows[1].left, rows[1].right, rows[1].merged) == ("c", "##d", "cd")
    assert rows[1].pair_count == 9 and rows[1].left_count == 9
    assert rows[1].score == 9.0 / (9.0 * 9.0)
    assert (rows[2].left, rows[2].right, rows[2].merged) == ("a", "##b", "ab")
    got = {r.word: r.sym for r in words.collect()}
    assert got == {"ab": "ab", "cd": "cd"}


def test_wordpiece_maxmatch_longest_first_and_unk(spark):
    """Greedy MaxMatch semantics: longest piece wins at each position
    ('unaffable' → 'un ##aff ##able', never the shorter '##a' start);
    a position with no matching piece yields whole-word [UNK] (BERT's
    failure mode); single chars fall through to char pieces."""
    from interference_spark.pipeline.wordpiece import maxmatch_encode

    words = spark.createDataFrame(
        [("unaffable", 2), ("unz", 1), ("u", 1)], "word string, freq long"
    )
    vocab = spark.createDataFrame(
        [("un",), ("##aff",), ("##able",), ("##a",), ("u",), ("##n",)],
        "token string",
    )
    got = {r.word: r.sym for r in maxmatch_encode(words, vocab).collect()}
    assert got["unaffable"] == "un ##aff ##able"
    assert got["unz"] == "[UNK]"  # no '##z' piece
    assert got["u"] == "u"


def test_maxmatch_reachability_guard(spark):
    """A vocabulary piece longer than max_piece_len raises (r8 ADVICE
    nit: assertion over docstring obligation); raising the cap or
    opting out explicitly both work."""
    from interference_spark.pipeline.wordpiece import maxmatch_encode

    words = spark.createDataFrame(
        [("abcdefghijkl", 1)], "word string, freq long"
    )
    vocab = spark.createDataFrame(
        [("abcdefghijkl",), ("a",), ("##b",)], "token string"
    )
    with pytest.raises(ValueError, match="unreachable"):
        maxmatch_encode(words, vocab, max_piece_len=10)
    ok = maxmatch_encode(words, vocab, max_piece_len=12).collect()
    assert ok[0].sym == "abcdefghijkl"
    # explicit opt-out: the 12-char piece is unreachable, word fails to
    # segment past position 2 and comes back [UNK]
    unk = maxmatch_encode(
        words, vocab, max_piece_len=10, check_reachability=False
    ).collect()
    assert unk[0].sym == "[UNK]"


def test_wordpiece_unk_sentinel_is_not_matchable(spark):
    """[UNK] is an OUTPUT of MaxMatch failure, never a matchable piece:
    a corpus word literally spelled '[UNK]x' must segment through its
    characters, not swallow the 5-char sentinel (the stream ingest
    entry's id table adds [UNK], but its MATCH vocabulary must not —
    regression for a review-caught divergence from the oracle)."""
    from interference_spark.pipeline.wordpiece import (
        maxmatch_encode,
        wordpiece_train,
        wordpiece_vocab,
        wordpiece_word_table,
    )

    docs = spark.createDataFrame([(0, "[UNK]x [UNK]x")], "doc_id long, text string")
    merges, words = wordpiece_train(docs, n_merges=0)
    vocab = wordpiece_vocab(words, merges)
    assert "[UNK]" not in {r.token for r in vocab.collect()}
    got = {r.word: r.sym for r in maxmatch_encode(
        wordpiece_word_table(docs), vocab).collect()}
    assert got["[UNK]x"] == "[ ##U ##N ##K ##] ##x"


def test_wordpiece_fertility_vs_char_baseline(spark):
    """Trained WordPiece segmentation covers every token and beats the
    character-split fertility baseline on the fixture corpus — the
    triad-completion check mirroring test_unigram_fertility_vs_bpe."""
    from interference_spark.pipeline.bpe import subword_stats
    from interference_spark.pipeline.wordpiece import wordpiece_train

    corpus = [
        (i, "en", "the cat sat on the mat " * 3 + "catcat ab abab")
        for i in range(4)
    ] + [(9, "en", "the mat cat sat abab")]
    docs = spark.createDataFrame(corpus, "doc_id long, lang string, text string")
    _merges, wp_words = wordpiece_train(docs, n_merges=8)
    s = {r.lang: r for r in subword_stats(docs, wp_words).collect()}
    char_fert = sum(len(w) for _, _, t in corpus for w in t.split()) / sum(
        len(t.split()) for _, _, t in corpus
    )
    assert s["en"].n_tokens > 0
    assert 1.0 <= s["en"].subwords_per_token < 0.75 * char_fert


def test_multiclass_hash_kernel_learns_separable_fixture(spark):
    """Three classes with disjoint vocabularies: the one-vs-rest
    hash-kernel heads must separate them perfectly — the capability
    check the signal-free synthetic corpus can't provide."""
    from interference_spark.pipeline.text import hash_kernel_multiclass

    vocab = {
        "aa": ["gato", "perro", "casa"],
        "bb": ["chien", "maison", "rue"],
        "cc": ["hund", "haus", "stadt"],
    }
    rows, i = [], 0
    for lang, toks in vocab.items():
        for k in range(12):
            rows.append(
                (i, lang, " ".join(toks[(k + j) % 3] for j in range(6)))
            )
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    w, pred = hash_kernel_multiclass(
        docs, docs, classes=["aa", "bb", "cc"], d=16, iters=3
    )
    assert set(w) == {"aa", "bb", "cc"} and all(len(v) == 17 for v in w.values())
    j = pred.join(docs.select("doc_id", "lang"), "doc_id")
    assert j.filter("lang_pred = lang").count() == j.count() == 36


def test_lang_id_multiclass_agreement(spark):
    """Agreement report (VERDICT r7 ask #7): the trained langid entry vs
    the true labels AND the marker-list baseline on the sf0.001 corpus.
    The synthetic corpus has NO lexical language signal (one shared
    token pool — the marker baseline itself scores ~0.29), so the
    trained model's honest ceiling is the majority class; the report
    asserts full coverage, the class-set contract, and that the
    classifier is at least at that ceiling."""
    import os

    from interference_spark import inventory
    from interference_spark.pipeline.text import lang_id

    sf = os.environ.get("IFS_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pred = inventory.QUERIES["lang_id_multiclass"](spark, sf)
    n_docs = docs.filter("length(trim(text)) > 0").count()
    j = pred.join(docs.select("doc_id", "lang"), "doc_id")
    assert j.count() == n_docs  # every non-empty doc gets a prediction
    preds = {r.lang_pred for r in pred.select("lang_pred").distinct().collect()}
    assert preds <= set(inventory._LANGID_CLASSES)
    acc = j.filter("lang_pred = lang").count() / n_docs
    base = (
        docs.groupBy("lang").count().agg({"count": "max"}).first()[0] / n_docs
    )
    assert acc >= base - 0.02  # at (or above) the majority-class ceiling
    mk = lang_id(docs).select("doc_id", F.col("lang_pred").alias("mk_pred"))
    ag = j.join(mk, "doc_id")
    agree = ag.filter("lang_pred = mk_pred").count() / n_docs
    mk_acc = ag.filter("mk_pred = lang").count() / n_docs
    # the report: classifier ≥ marker baseline on this corpus, and the
    # two agree more often than chance (the baseline also leans 'en')
    assert acc >= mk_acc
    assert agree >= 0.5


def test_multiclass_rejects_single_class_upfront(spark):
    """greatest(struct...) needs >= 2 heads; a 1-class list must fail
    at validation, not after training (review r9)."""
    from interference_spark.pipeline.text import hash_kernel_multiclass

    df = spark.createDataFrame(
        [(0, "a b", "en"), (1, "b a", "en")],
        "doc_id long, text string, lang string",
    )
    for d in (4, 128):  # the dense and the sparse core
        with pytest.raises(ValueError, match=">= 2 unique labels"):
            hash_kernel_multiclass(df, df, classes=["en"], d=d)


def test_hash_kernel_train_filter_bit_identical_to_classic(spark):
    """train_filter mode must reproduce the classic (train df, score df)
    fit and scores EXACTLY on both cores — the slice is the same rows,
    featurized by the same expressions, so weights and scores are the
    identical doubles. Also pins the argument-validation errors."""
    import pytest as _pytest

    from interference_spark.pipeline.text import (
        hash_kernel_classifier,
        hash_kernel_multiclass,
    )

    rows = [
        (i, f"tok{i % 7} tok{i % 3} tok{i % 5} filler", "en" if i % 2 else "de",
         i % 3)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, split int"
    )

    w1, s1 = hash_kernel_classifier(
        df.filter("doc_id % 2 = 0"), df, d=4, iters=2
    )
    w2, s2 = hash_kernel_classifier(
        None, df, d=4, iters=2, train_filter="doc_id % 2 = 0"
    )
    assert w1 == w2
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))

    mw1, mp1 = hash_kernel_multiclass(
        df.filter("doc_id % 2 = 0"), df, classes=["de", "en"], d=4, iters=2
    )
    mw2, mp2 = hash_kernel_multiclass(
        None, df, classes=["de", "en"], d=4, iters=2,
        train_filter="doc_id % 2 = 0",
    )
    assert mw1 == mw2
    assert sorted(map(tuple, mp1.collect())) == sorted(map(tuple, mp2.collect()))

    with _pytest.raises(ValueError, match="train_filter"):
        hash_kernel_classifier(df, df, d=4, iters=1, train_filter="1=1")
    with _pytest.raises(ValueError, match="need train or train_filter"):
        hash_kernel_classifier(None, df, d=4, iters=1)

    # both cores (d=4 dense, d=128 sparse) take a filter on any score
    # column, not only the id, and fit the same rows as the classic call
    for d, f in ((128, "doc_id % 2 = 0"), (4, "split = 0"), (128, "split = 0")):
        w3, s3 = hash_kernel_classifier(df.filter(f), df, d=d, iters=2)
        w4, s4 = hash_kernel_classifier(None, df, d=d, iters=2, train_filter=f)
        assert w3 == w4, (d, f)
        assert sorted(map(tuple, s3.collect())) == sorted(
            map(tuple, s4.collect())
        ), (d, f)


def test_lit_arrays_match_lit_loop_on_edge_values(spark):
    """The one-parse literal arrays collect to the same doubles as the
    per-element F.lit construction, bit for bit, on the values SQL has
    no plain literal for (NaN, ±inf) and on -0.0 and a subnormal; the
    int array keeps F.lit's element type at INT_MIN."""
    import struct

    from interference_spark.pipeline import (
        lit_double_array,
        lit_double_matrix,
        lit_int_array,
    )

    vals = [float("nan"), float("inf"), float("-inf"), -0.0, 5e-324, 1.5]

    def bits(xs):
        return [struct.pack("<d", x) for x in xs]

    def lit_loop(xs):
        return F.array(*[F.lit(x) for x in xs])

    row = spark.range(1).select(
        lit_double_array(vals).alias("a"),
        lit_loop(vals).alias("b"),
        lit_double_matrix([vals, vals[::-1]]).alias("m"),
        F.array(lit_loop(vals), lit_loop(vals[::-1])).alias("n"),
    ).first()
    assert bits(row.a) == bits(row.b) == bits(vals)
    assert [bits(r) for r in row.m] == [bits(r) for r in row.n]

    for ints, want in (
        ([-2147483648], "int"),
        ([-2147483648, 2147483648], "bigint"),
    ):
        df = spark.range(1).select(
            lit_int_array(ints).alias("a"), lit_loop(ints).alias("b")
        )
        assert df.schema["a"].dataType.elementType.simpleString() == want
        assert df.schema["b"].dataType.elementType.simpleString() == want
        assert df.first().a == ints


def test_word_table_released_when_training_stops_before_first_merge(
    spark, monkeypatch
):
    """Zero merges, or a first pair count that comes back empty: below
    the cap BPE learns on the driver and persists nothing; above it (cap
    lowered to 0) BPE, like WordPiece, returns the persisted initial word
    table itself, and release_caches() must free it.  Delta-based like
    the ledger plan lint: earlier tests in the session may leave
    localCheckpoint blocks, so the assertion is that no RDD these runs
    persisted survives the release."""
    from interference_spark import pipeline
    from interference_spark.pipeline import release_caches
    from interference_spark.pipeline.bpe import bpe_train
    from interference_spark.pipeline.wordpiece import wordpiece_train

    release_caches()
    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keys())

    pre = persisted()
    df = spark.createDataFrame(
        [(1, "ab ab c"), (2, "abc")], "doc_id long, text string"
    )
    single = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    for _merges, words in (
        bpe_train(df, n_merges=0),
        bpe_train(single, n_merges=3),  # no pair: stops on the first count
    ):
        assert words.count() in (2, 3)
    assert persisted() - pre == set(), "the driver path persists nothing"

    monkeypatch.setattr(pipeline, "DRIVER_COLLECT_CAP", 0)
    for _merges, words in (
        bpe_train(df, n_merges=0),
        wordpiece_train(df, n_merges=0),
        bpe_train(single, n_merges=3),
    ):
        words.count()
    assert persisted() - pre, "the runs should have cached their word tables"
    release_caches(blocking=True)
    assert persisted() - pre == set()


def test_bpe_training_below_the_cap_leaves_no_blocks(spark):
    """Below the cap, BPE and byte-level BPE training leave no cached or
    checkpointed blocks: after five runs of each, with every result still
    referenced (so Spark's ContextCleaner cannot have freed anything),
    neither the persisted-RDD map nor the RDD storage info holds an RDD
    these runs made.  The Spark loop leaves a ``localCheckpoint`` block
    set per merge round; that leak above the cap is still open."""
    from interference_spark.pipeline.bpe import bpe_train
    from interference_spark.pipeline.byte_bpe import byte_bpe_train

    sc = spark.sparkContext._jsc.sc()

    def held() -> tuple[set, set]:
        it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        infos = sc.getRDDStorageInfo()
        return ids, {infos[i].id() for i in range(len(infos))}

    pre_ids, pre_info = held()
    df = spark.createDataFrame(
        [(1, "low low lower newest"), (2, "widest newest aaaa"), (3, "é ab ab")],
        "doc_id long, text string",
    )
    kept = []
    for n in range(1, 6):
        for train in (bpe_train, byte_bpe_train):
            merges, words = train(df, n_merges=n)
            assert merges.count() == n and words.count() > 0
            kept.append((merges, words))
    ids, info = held()
    assert ids - pre_ids == set()
    assert info - pre_info == set()


def test_local_frame_is_a_zero_job_local_relation(spark):
    """``pipeline.local_frame`` keeps values exactly (null long, NaN and
    -0.0 doubles, arrays with nulls, empty input) and builds a
    ``LocalRelation``: collecting it runs no Spark job, so a silent
    fallback to a plain-list ``createDataFrame`` would fail here."""
    import math

    from interference_spark.pipeline import local_frame

    sc = spark.sparkContext._jsc.sc()

    def jobs(step):
        first = int(sc.dagScheduler().nextJobId())
        out = step()
        return int(sc.dagScheduler().nextJobId()) - first, out

    rows = [
        (1, "a", float("nan"), [1.5, -0.0, None]),
        (None, "é", -0.0, None),
        (-(2**63), None, float("-inf"), []),
    ]
    df = local_frame(spark, rows, "n long, s string, d double, v array<double>")
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    n, got = jobs(df.collect)
    assert n == 0
    assert [r.n for r in got] == [1, None, -(2**63)]
    assert [r.s for r in got] == ["a", "é", None]
    assert math.isnan(got[0].d) and got[2].d == float("-inf")
    assert got[1].d == 0.0 and math.copysign(1.0, got[1].d) == -1.0
    assert got[0].v[:2] == [1.5, 0.0] and got[0].v[2] is None
    assert math.copysign(1.0, got[0].v[1]) == -1.0
    assert got[1].v is None and got[2].v == []

    empty = local_frame(spark, [], "token string, token_id long")
    assert empty.columns == ["token", "token_id"]
    assert jobs(empty.collect) == (0, [])
    big = local_frame(spark, [(i, str(i)) for i in range(65536)], "a long, b string")
    n, got = jobs(big.collect)
    assert n == 0 and len(got) == 65536 and got[-1] == (65535, "65535")
