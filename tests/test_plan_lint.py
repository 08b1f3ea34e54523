"""Plan-regression lint: structural invariants every TPC-H-shaped headline
query's physical plan must keep. Catches silent planner regressions (a
dropped join condition → cartesian; a filter that stopped reaching the
scan) that row-level oracles can miss at tiny scale but that dominate at
100 TB.
"""

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from interference_spark import inventory

SF_DIR = os.environ.get("IFS_TEST_SF_DIR", "/root/testdata/sf0.001")

TPCH = [n for n in inventory.QUERIES if re.match(r"^q\d+_", n)]

# queries whose WHERE is only a join/derived condition (no scan-pushable
# literal predicate on a base column)
NO_PUSHDOWN = {"q13_customer_distribution", "q2_min_cost_supplier"}


@pytest.mark.parametrize("name", sorted(TPCH))
def test_tpch_plan_invariants(name, spark):
    # plan strings truncate metadata (PushedFilters/ReadSchema) at 100
    # chars by default — raise the cap so the lint sees full entries
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    df = inventory.QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # no unconditioned cross joins anywhere (the 1-row scalar subqueries in
    # q15/q22 plan as broadcast loops over a single row — those are the
    # only BNLJ allowed, and only against a 1-row side)
    assert "CartesianProduct" not in plan, f"{name}: cartesian\n{plan[:2000]}"
    if "BroadcastNestedLoopJoin" in plan:
        assert name in (
            "q11_important_parts", "q15_top_supplier", "q22_idle_customers",
        ), f"{name}: unexpected BNLJ\n{plan[:2000]}"
    # literal predicates must reach the parquet scan
    if name not in NO_PUSHDOWN:
        pushed = re.findall(r"PushedFilters: \[([^\]\n]*)\]", plan)
        assert any(p.strip() for p in pushed), f"{name}: no pushed filters\n{plan[:2000]}"
    # scans must prune columns: never read all lineitem columns when the
    # query touches a handful (ReadSchema listed per scan, single line)
    schemas = re.findall(r"ReadSchema: struct<([^>\n]*)>", plan)
    assert schemas, f"{name}: no ReadSchema\n{plan[:1500]}"
    widest = max(len(s.split(",")) for s in schemas)
    assert widest <= 8, f"{name}: scan reads {widest} columns\n{plan[:1500]}"


def test_bitmap_jaccard_plan_shape(spark):
    """The small-vocabulary all-pairs plan must broadcast the bit-packed
    side (BroadcastNestedLoopJoin, never CartesianProduct) and parallelize
    the probe side across >1 partition."""
    from interference_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert out.rdd.getNumPartitions() > 1


def test_window_analytics_single_exchange(spark):
    """All five window specs must share ONE hash exchange on o_custkey —
    a second exchange means a spec re-partitioned and doubled the shuffle."""
    df = inventory.QUERIES["window_analytics_orders"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan[:2000]


def test_pivot_single_aggregate_pass(spark):
    """The pivot must plan as ONE partial+final aggregate pair on user_id —
    never one aggregate/shuffle per pivot value."""
    df = inventory.QUERIES["pivot_user_event_matrix"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan[:2000]
    n_aggs = plan.count("HashAggregate") + plan.count("ObjectHashAggregate")
    assert n_aggs == 2, f"expected partial+final, got {n_aggs}\n{plan[:2000]}"


def test_split_assignment_is_projection_only(spark):
    """assign_split adds zero shuffles: the split column is a pure
    projection over the scan."""
    from interference_spark.pipeline.export import assign_split

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    df = assign_split(ev, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]


def test_gapfill_grid_from_aggregated_bounds(spark):
    """The gap-fill grid must be generated from per-type BOUNDS (an
    aggregate over the hourly rollup), never exploded per source event:
    the explode feeds from an aggregate, and the whole plan carries no
    cartesian."""
    df = inventory.QUERIES["gapfill_hourly_events"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    gen = plan.index("Generate explode")
    assert "HashAggregate" in plan[gen:], plan[:2000]


def test_bloom_decontaminate_broadcasts_bitmap_only(spark):
    """Both bloom probe joins must broadcast the (bounded, ≤8192-row)
    bitmap side; the corpus side must never be exchanged before them."""
    df = inventory.QUERIES["decontaminate_bloom"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan


def test_repetition_features_no_shuffle(spark):
    """Per-doc repetition signals are per-row folds: the plan must contain
    no KEY shuffle (the only allowed Exchange is ensure_parallelism's
    round-robin input split over the single local parquet file)."""
    df = inventory.QUERIES["text_repetition"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "rangepartitioning" not in plan, plan[:2000]


def test_incremental_dedup_prunes_registry_scan(spark):
    """The known-corpus side must scan only the columns the digest needs
    (text + the id filter column), not the whole documents schema."""
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    import re as _re

    df = inventory.QUERIES["dedup_incremental"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    schemas = _re.findall(r"ReadSchema: struct<([^>\n]*)>", plan)
    assert schemas
    # at least one scan reads ≤2 columns (the registry side)
    assert min(len(s.split(",")) for s in schemas) <= 2, schemas


def test_image_ahash_no_shuffle(spark):
    """Fingerprinting is embarrassingly parallel — no Exchange before the
    dedup groupBy's single shuffle."""
    from interference_spark.pipeline.multimodal import image_ahash, synth_png_corpus
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fp = image_ahash(synth_png_corpus(docs, variants=5))
    plan = fp._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]


def test_semantic_decontaminate_plan_shapes(spark):
    """Per-row max inside the Arrow UDF — the plan must contain NO
    shuffle and no join at all — and the decision table must equal the
    `decontaminate_semantic` DuckDB oracle exactly."""
    import duckdb
    from pyspark.sql import functions as F

    from interference_spark.pipeline.similarity import semantic_decontaminate

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 53 != 0)
    ev = emb.filter(F.col("vec_id") % 53 == 0)

    vec = semantic_decontaminate(corpus, ev, threshold=0.5)
    vplan = vec._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in vplan, vplan[:2000]
    assert "Join" not in vplan, vplan[:2000]
    assert "ArrowEvalPython" in vplan or "Python" in vplan, vplan[:2000]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    res = con.execute(inventory.oracle_sql()["decontaminate_semantic"])
    cols = [d[0] for d in res.description]
    want = sorted(res.fetchall())
    assert want
    assert sorted(map(tuple, vec.select(cols).collect())) == want


def test_incremental_minhash_band_shuffle_is_narrow(spark):
    """The batch×registry candidate join must shuffle NARROW (id, bucket)
    rows — the 128-long signature arrays may not enter the band-bucket
    exchange (they re-attach afterwards by id).  Broadcast is disabled so
    the band joins actually plan their shuffles (at test scale AQE would
    broadcast them and the lint would be vacuous — at 100 TB both sides
    shuffle, which is exactly the case the lint protects)."""
    from pyspark.sql import functions as F

    from interference_spark.pipeline.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the oracle-gate test leaves the dedup_incremental_minhash entry's
        # decision table cached; CacheManager would hand that identical
        # plan (built with broadcasts enabled) back here instead of
        # caching a new one under this lint's settings
        spark.catalog.clearCache()
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        known = docs.filter(F.col("doc_id") % 2 == 0)
        new = docs.filter(F.col("doc_id") % 2 == 1)
        # the admission runs eagerly and returns a scan of the cached
        # decision table; the cached relation's inner tree (printed under
        # InMemoryRelation) is the executed decision plan this lint reads
        out = incremental_minhash_dedup(new, minhash_signatures(known), threshold=0.4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        out.unpersist()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "InMemoryRelation" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    # the Exchange line names only the key; its CHILD line shows the rows
    # actually shuffled — that projection must not contain the signature
    lines = plan.splitlines()
    bucket_ex = [
        i for i, ln in enumerate(lines)
        if "Exchange hashpartitioning(bucket" in ln
    ]
    assert bucket_ex, plan[:2000]  # non-vacuous: band shuffles must exist
    for i in bucket_ex:
        child = lines[i + 1] if i + 1 < len(lines) else ""
        assert "signature" not in child, f"{lines[i]}\n{child}"


def test_threshold_sweep_scores_pairs_once(spark):
    """`jaccard_threshold_sweep` feeds ONE aggregate from the scored
    pairs: the executed plan holds the pair plan's nested-loop joins
    once, plus the one broadcast threshold cross join (two consumers of
    the scored pairs used to duplicate the whole subtree)."""
    from interference_spark.pipeline.dedup import ngram_jaccard_pairs

    def final_plan(df):
        # after a run, AQE prints the final plan above the initial one;
        # only the final plan is what ran
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0]

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pair_plan = final_plan(ngram_jaccard_pairs(docs, n=3, threshold=0.5))
    plan = final_plan(inventory.QUERIES["dedup_threshold_sweep"](spark, SF_DIR))
    n_pair = pair_plan.count("BroadcastNestedLoopJoin")
    assert n_pair >= 1, pair_plan[:2000]
    assert plan.count("BroadcastNestedLoopJoin") == n_pair + 1, plan[:3000]


def test_mix_token_budget_broadcasts_budgets(spark):
    """The budget table (one row per budgeted stratum) must broadcast onto
    the corpus; the whole mix is JVM-only (no Python nodes) and carries
    exactly one corpus exchange — the stratum window partitioning."""
    df = inventory.QUERIES["mix_token_budget"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_clean_repeated_passages_plan(spark):
    """Passage removal is pure JVM (chunking via higher-order functions,
    no UDF) and never builds a cartesian; the repeated-chunk table joins
    back as a real join, not a re-scan explosion."""
    df = inventory.QUERIES["clean_repeated_passages"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_bpe_encode_vocab_is_build_side(spark, monkeypatch):
    """The vocab join must build on the (alphabet+merges-sized) vocab —
    pinned by hint so a small corpus slice can't flip it — whether the
    tokenizer was trained on the driver (local-relation outputs) or by
    the Spark loop (cap lowered to 0)."""
    from interference_spark import pipeline
    from interference_spark.pipeline.bpe import bpe_encode, bpe_train, bpe_vocab

    df = spark.createDataFrame(
        [(1, "low lower newest"), (2, "low widest aaaa")],
        "doc_id long, text string",
    )
    for cap in (pipeline.DRIVER_COLLECT_CAP, 0):
        monkeypatch.setattr(pipeline, "DRIVER_COLLECT_CAP", cap)
        merges, words = bpe_train(df, n_merges=2)
        enc = bpe_encode(df, words, bpe_vocab(merges, words))
        plan = enc._jdf.queryExecution().executedPlan().toString()
        lines = [ln for ln in plan.splitlines() if "BroadcastHashJoin [token" in ln]
        assert lines and all("BuildRight" in ln for ln in lines), (cap, plan[:3000])


def test_perplexity_lm_plan(spark):
    """LM scoring stays JVM-only (bigram explode via HOFs, no UDF), the
    1-row vocab attaches as a broadcast (never a cartesian), and the
    scoring joins are real hash joins."""
    df = inventory.QUERIES["quality_perplexity_lm"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]  # 1-row vocab


def test_bm25_plan(spark):
    """BM25 (r12 shape): per-term tf via size(filter()) projections — NO
    corpus token explode (no Generate), no (doc, term) shuffle join; the
    single 1-row stats/df aggregate re-enters as a broadcast; ranking is
    a distributed partial top-k, all JVM."""
    df = inventory.QUERIES["rank_bm25_topk"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "BroadcastExchange" in plan, plan[:2000]
    assert "Generate" not in plan, plan[:2000]  # the old corpus explode
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "InMemoryTableScan" not in plan, plan[:2000]  # old tf persist


def test_ngram_novelty_plan(spark):
    """Novelty scoring is JVM-only (gram explode via HOFs) and the
    reference-membership join is a real equi-join, never a cartesian."""
    df = inventory.QUERIES["text_novelty_ngrams"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_containment_report_plan(spark):
    """Containment: pure JVM (gram HOFs), real equi-joins only."""
    df = inventory.QUERIES["dedup_containment_report"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_winnow_fingerprints_plan(spark):
    """Winnowing: hashing + window minima stay in codegen (no UDF); the
    only join is the fingerprint posting equi-join."""
    df = inventory.QUERIES["text_winnow_fingerprints"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_hash_kernel_classifier_plans(spark):
    """Hash-kernel classifier: each GD step is ONE moment aggregate
    (single Exchange to a 1-row result); scoring is a pure literal-weight
    projection — no join, no shuffle, no Python anywhere."""
    df = inventory.QUERIES["quality_hash_classifier"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    # no KEY shuffle; ensure_parallelism's round-robin input split is the
    # one allowed Exchange
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "rangepartitioning" not in plan, plan[:2000]


def _assert_sparse_hash_kernel_plan(plan: str) -> None:
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert re.search(r"BroadcastHashJoin \[bucket#\d+\]", plan), plan[:2000]


def test_hash_kernel_sparse_plans(spark):
    """Sparse classifier scoring: featurization is codegen HOFs plus a
    combiner groupBy (no Python anywhere), the weights attach as a
    broadcast HASH join on the bucket key (the d-row weight table — not
    a cross-joined array row), and nothing plans a real cartesian."""
    df = inventory.QUERIES["quality_hash_classifier_sparse"](spark, SF_DIR)
    _assert_sparse_hash_kernel_plan(
        df._jdf.queryExecution().executedPlan().toString()
    )


def test_lang_id_multiclass_sparse_plans(spark):
    """The K-head sparse langid plan has the same shape as the one-head
    classifier's: broadcast hash join on the bucket key, no Python, no
    cartesian."""
    df = inventory.QUERIES["lang_id_multiclass_sparse"](spark, SF_DIR)
    _assert_sparse_hash_kernel_plan(
        df._jdf.queryExecution().executedPlan().toString()
    )


def test_exact_substring_pairs_plan(spark):
    """Cross-corpus substring dedup: gram hashing is codegen HOFs (no
    UDF) and the shingle join is a real equi-join on the digest."""
    df = inventory.QUERIES["dedup_exact_substring_pairs"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_q18_never_broadcasts_a_fact_side(spark):
    """q18's orderkey joins must both be shuffled-hash: the static
    planner's column-pruned estimate broadcast the ORDERS fact table
    (measured 26x super-linear at the 100x scale probe), and a
    sort-merge semi join pays a full fact-side sort.  Customer (a real
    dim) stays broadcast."""
    df = inventory.QUERIES["q18_large_orders"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") == 2, plan[:3000]
    assert "BroadcastHashJoin [l_orderkey" not in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_q7_never_broadcasts_a_fact_side(spark):
    """q7's dim attachments must be shuffled-hash (small side builds per
    partition): the unhinted static plan broadcast column-pruned
    LINEITEM as a hash build, which is backwards at any scale."""
    df = inventory.QUERIES["q7_volume_shipping"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") == 2, plan[:3000]
    assert "BroadcastHashJoin [l_suppkey" not in plan, plan[:3000]
    assert "BroadcastHashJoin [o_custkey" not in plan, plan[:3000]


@pytest.mark.slow
def test_no_entry_plans_a_cartesian_product(spark):
    """Inventory-wide structural sweep, two invariants per entry plan:

    * no CartesianProduct — every intentional scalar cross join in the
      codebase broadcasts a 1-row side (BroadcastNestedLoopJoin), and a
      real cartesian anywhere is a dropped join condition that tiny-SF
      value oracles can survive but 100 TB cannot;
    * no BatchEvalPython — row-at-a-time Python UDFs are banned from
      every plan (Arrow-batched pandas UDFs show as ArrowEvalPython /
      MapInPandas and are the only sanctioned Python boundary)."""
    cartesians, row_udfs = {}, {}
    for name in sorted(inventory.QUERIES):
        df = inventory.QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            cartesians[name] = plan[:400]
        if "BatchEvalPython" in plan:
            row_udfs[name] = plan[:400]
    assert not cartesians, cartesians
    assert not row_udfs, row_udfs


def test_c4_gopher_rules_are_shuffle_free_projections(spark):
    """The rule filters are pure codegen HOF projections: the only
    allowed Exchange is the tiny-input parallelism guard (a single
    RoundRobin repartition), never a keyed shuffle, and no Python."""
    for name in ("clean_c4_rules", "quality_gopher_rules"):
        df = inventory.QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Arrow" not in plan, (name, plan[:2000])
        assert "hashpartitioning" not in plan, (name, plan[:2000])
        assert plan.count("Exchange") <= 1, (name, plan[:2000])


def test_rrf_fusion_plan_is_depth_bounded(spark):
    """RRF: each list is cut by a distributed partial top-k before any
    single-partition ranking window; the fusion join is broadcast-sized,
    never sort-merge on a corpus-sized side."""
    df = inventory.QUERIES["rank_rrf_fusion"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_zipf_slope_plan_partial_topk(spark):
    """Zipf: the top-1000 cut is TakeOrderedAndProject (never a global
    sort of the vocabulary) and everything is JVM-side."""
    df = inventory.QUERIES["corpus_zipf_slope"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]


def test_dsir_vocab_sides_broadcast(spark):
    """DSIR: the two 1-row vocab tables attach as broadcasts, and the
    corpus-sized bigram stream attaches its merged count lookups through
    BroadcastHashJoins — NEVER a sort-merge that would sort the stream
    (measured 2x at 10M docs; the only allowed SMJs are the two
    vocab-sized LM-merge joins)."""
    df = inventory.QUERIES["select_dsir_topn"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert plan.count("BroadcastNestedLoopJoin") >= 2, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert plan.count("SortMergeJoin") <= 2, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]


def test_unigram_train_plan_jvm_only_broadcast_vocab(spark):
    """Unigram-LM training: the whole trajectory (incl. the final
    E-step's DP folds feeding the M-step counts) stays JVM-side — no
    Python/Arrow, no cartesian on data (the only NL joins are 1-row
    total-count broadcasts), vocab cost lookups attach as broadcasts."""
    df = inventory.QUERIES["unigram_lm_train"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_wordpiece_plans_jvm_only_broadcast_vocab(spark):
    """WordPiece training returns a driver-built literal merge table
    (nothing to lint there); the MaxMatch ENCODE plan must stay
    JVM-side — no Python/Arrow, no cartesian — and attach the
    vocabulary as a broadcast (the grid side is the only shuffled
    input)."""
    df = inventory.QUERIES["wordpiece_encode_maxmatch"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_perplexity_buckets_plan_jvm_broadcast_lm(spark):
    """CCNet bucketing: scoring joins attach the (curated-small) LM as
    broadcasts, the 1-row vocab rides as a broadcast NL join, the ntile
    window is the only sort, and nothing drops to Python."""
    df = inventory.QUERIES["mix_perplexity_buckets"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "Window" in plan, plan[:2000]


def test_backoff_trigram_plan_jvm_no_sort(spark):
    """Stupid-backoff scoring: five LEFT joins broadcast at this SF, the
    1-row totals ride as a broadcast NL join, the per-doc combine is a
    hash aggregate — no window, no sort, no Python anywhere."""
    df = inventory.QUERIES["quality_backoff_trigram"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 5, plan[:2000]
    # the name is the contract: assert it, don't just promise it
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "Sort " not in plan, plan[:2000]


def test_kneser_ney_plan_jvm_no_sort(spark):
    """Interpolated KN scoring (r10): six LEFT joins broadcast at this
    SF, the 1-row totals ride as a broadcast NL join, the per-doc
    combine is a hash aggregate — same lint contract as the backoff
    sibling: no window, no sort, no Python anywhere."""
    df = inventory.QUERIES["quality_kneser_ney_trigram"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 6, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "Sort " not in plan, plan[:2000]


def test_lang_id_multiclass_scoring_is_literal_projection(spark):
    """Multiclass langid scoring: the returned plan (training already
    folded into literal weights) is a pure JVM projection — no Python,
    no cartesian, no KEY shuffle (argmax is per-row greatest(struct);
    the only allowed Exchange is ensure_parallelism's round-robin input
    repartition over the single local parquet file)."""
    df = inventory.QUERIES["lang_id_multiclass"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "rangepartitioning" not in plan, plan[:2000]


def test_funnel_v2_plan_no_cartesian_no_python(spark):
    """Funnel v2 composes four stages into one plan: everything JVM-side
    and no cartesian anywhere (the DSIR vocab sides ride as 1-row
    broadcast NL joins, the top-100 via TakeOrderedAndProject)."""
    df = inventory.QUERIES["corpus_curation_funnel_v2"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_mix_perplexity_cutoffs_plan_has_no_window(spark):
    """The sketch-cutoff bucketing exists to REMOVE the per-language
    ntile sort: its physical plan must contain no Window node at all,
    and the per-language cutoffs must attach as a broadcast, not a
    shuffled join."""
    df = inventory.QUERIES["mix_perplexity_cutoffs"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:2000]
    assert "ntile" not in plan, plan[:2000]
    # the entry pins collected rows (localCheckpoint lineage), so lint
    # the OPERATOR's own plan too
    from interference_spark.pipeline.lm import (
        perplexity_bucket_cutoffs,
        train_bigram_lm,
    )

    docs = inventory.engine_for(spark, SF_DIR).table("documents")
    lm = train_bigram_lm(docs.filter("doc_id % 2 = 0"))
    out = perplexity_bucket_cutoffs(docs.filter("doc_id % 2 = 1"), lm)
    oplan = out._jdf.queryExecution().executedPlan().toString()
    # no ntile anywhere; the ONLY Window allowed is the histogram
    # cumulation on the cutoff (broadcast build) side — it runs over at
    # most languages×256 sketch rows, never the corpus
    assert "ntile" not in oplan, oplan[:2000]
    assert oplan.count("Window") <= 1, oplan[:3000]
    assert "BroadcastHashJoin [lang" in oplan, oplan[:2000]


def test_select_dsir_gumbel_plan_is_partial_topk(spark):
    """Gumbel-top-k selection must execute as TakeOrderedAndProject
    (per-partition top-k + driver merge), never a global sort, with the
    key projection all-JVM."""
    df = inventory.QUERIES["select_dsir_gumbel"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_byte_bpe_encode_plan_shape(spark, monkeypatch):
    """Byte-level encode: no Window node (positions come from the
    per-document regroup — the r9 reshape), the vocab join builds on
    the broadcast vocab, and everything stays JVM-side — on both
    training paths (driver, and the Spark loop with the cap at 0)."""
    from interference_spark import pipeline
    from interference_spark.pipeline.byte_bpe import (
        byte_bpe_encode,
        byte_bpe_train,
        byte_bpe_vocab,
    )

    docs = inventory.engine_for(spark, SF_DIR).table("documents")
    for cap in (pipeline.DRIVER_COLLECT_CAP, 0):
        monkeypatch.setattr(pipeline, "DRIVER_COLLECT_CAP", cap)
        merges, words = byte_bpe_train(docs.limit(50), n_merges=2)
        enc = byte_bpe_encode(docs.limit(50), words, byte_bpe_vocab(merges))
        plan = enc._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, (cap, plan[:2000])
        assert "Python" not in plan and "Arrow" not in plan, (cap, plan[:2000])
        lines = [
            ln for ln in plan.splitlines() if "BroadcastHashJoin [token" in ln
        ]
        assert lines and all("BuildRight" in ln for ln in lines), (cap, plan[:3000])


def test_stream_backoff_counts_plan_is_combiner_friendly(spark):
    """The unified backoff delta is three map-side-combined counts and
    a union — no join, no window, no Python anywhere."""
    from interference_spark.pipeline.lm import backoff_count_deltas

    docs = inventory.engine_for(spark, SF_DIR).table("documents")
    plan = (
        backoff_count_deltas(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "Arrow" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert plan.count("HashAggregate") >= 6, plan[:2000]  # 3x partial+final


def test_lsh_family_builds_without_running_jobs(spark):
    """r11: the four hyperplane-LSH entries pass dim=64 (the embeddings
    fixture width, hardcoded in their oracles) so constructing the
    DataFrame never runs hyperplane_buckets' schema-probe .first() job —
    no driver action in the query path (guide section 5)."""
    names = (
        "sim_lsh_topk",
        "sim_lsh_multiprobe",
        "sim_hard_negatives",
        "dedup_embedding_neardup",
    )
    for name in names:  # warm: first registration may run the one-time
        inventory.QUERIES[name](spark, SF_DIR)  # parquet schema-infer job
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    for name in names:  # the old dim probe ran a job on EVERY build
        inventory.QUERIES[name](spark, SF_DIR)
    assert len(tracker.getJobIdsForGroup(None)) == before


def test_embeddings_fixture_width_matches_hardcoded_dim():
    """ADVICE r11: four LSH inventory entries hardcode dim=64 to skip the
    schema-probe job; if the embeddings fixture width ever changed, the
    hyperplane projections would silently zip against the wrong dimension
    and drift from the oracles instead of failing.  Pin the fixture width
    at every SF the driver uses (pure pyarrow — no Spark session)."""
    import pyarrow.parquet as pq

    for sf in ("0.001", "0.01", "0.1"):
        t = pq.read_table(
            f"/root/testdata/sf{sf}/embeddings.parquet",
            columns=["embedding"],
        )
        widths = {len(v) for v in t.column("embedding").to_pylist()[:50]}
        assert widths == {64}, (sf, widths)


@pytest.mark.slow
def test_unpartitioned_windows_only_over_bounded_input(spark):
    """VERDICT r11 item 7: every WindowExec with an EMPTY partition spec
    moves its whole input to one task — acceptable ONLY when that input
    is provably bounded (the subtree below the window aggregates, limits,
    or unions fixed-size locals first).  Lint the OPTIMIZED logical plan
    of every inventory entry: for each Window node with no partitionSpec,
    require an Aggregate / GlobalLimit / bounded-local source somewhere
    below it.  Catches a future operator sorting a raw corpus through a
    single partition before the 100 TB run does."""
    import json as _json

    # documented size-gated fallbacks: the unpartitioned window IS the
    # chosen plan only below a byte threshold, with the distributed plan
    # engaging above it (asserted by its own tests)
    allowed = {
        # plans/window_dist.py: _single_task below SINGLE_TASK_MAX_BYTES
        # (256 MB estimated input); the range-split distributed plan is
        # the scale path (test_sliding_window_dist_matches_single_task)
        "dialect_window_count_sliding",
    }
    offenders = {}
    for name, fn in sorted(inventory.QUERIES.items()):
        if name in allowed:
            continue
        try:
            df = fn(spark, SF_DIR)
        except Exception as exc:  # noqa: BLE001 — lint what builds
            offenders[name] = f"construction failed: {exc}"[:200]
            continue
        try:
            tree = _json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
        except Exception as exc:  # noqa: BLE001
            offenders[name] = f"plan json failed: {exc}"[:200]
            continue

        # toJSON returns the flattened tree pre-order with num-children;
        # rebuild subtree spans so "below this window" is checkable
        def subtree(nodes, i):
            span = [i]
            remaining = nodes[i].get("num-children", 0)
            j = i + 1
            while remaining > 0:
                child = subtree(nodes, j)
                span.extend(child)
                j = child[-1] + 1
                remaining -= 1
            return span

        bounded_classes = (
            "logical.Aggregate",
            "logical.GlobalLimit",
            "logical.LocalRelation",
            "logical.LocalLimit",
            "logical.OneRowRelation",
            "logical.Range",
        )
        for i, node in enumerate(tree):
            if not node.get("class", "").endswith("logical.Window"):
                continue
            if node.get("partitionSpec"):
                continue
            below = subtree(tree, i)[1:]
            if not any(
                tree[j].get("class", "").endswith(bounded_classes)
                for j in below
            ):
                offenders.setdefault(name, []).append(
                    "unpartitioned Window over unbounded input"
                )
    assert not offenders, offenders


def test_cache_ledger_releases_pipeline_persists(spark):
    """VERDICT r11 ask #6: the fingerprint/feature caches this package
    persists on behalf of returned plans must be releasable without a
    session-wide clearCache.  Run an LSH query (which registers its
    hyperplane fingerprint cache in the ledger), consume it, then assert
    release_caches() actually removes the cached blocks from storage.

    Delta-based on purpose: earlier tests in the same session may have
    left localCheckpoint blocks (documented as NOT releasable via
    unpersist — bpe.py lineage-truncation contract), so the assertion is
    that every RDD the LSH run cached is gone after release, not that
    global storage is empty."""
    from interference_spark.pipeline import release_caches

    release_caches()  # release any ledger entries earlier tests left

    def cached_ids() -> set:
        jsc = spark.sparkContext._jsc.sc()
        info = jsc.getRDDStorageInfo()
        return {
            info[i].id()
            for i in range(info.__len__())
            if info[i].numCachedPartitions() > 0
        }

    pre = cached_ids()
    inventory.QUERIES["sim_lsh_topk"](spark, SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()

    new = cached_ids() - pre
    assert new, "LSH run should have left a registered cache"
    released = release_caches(blocking=True)
    assert released >= 1
    assert not (cached_ids() & new), (
        "ledger release left this run's cached blocks pinned"
    )
