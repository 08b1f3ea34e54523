"""Scale smoke: the ops whose cost profile changes with volume, run on
millions of range-generated rows (no disk, no fixtures) — empirical
evidence the plans hold past toy size, not just at sf0.1.

These are smoke tests (completion + sanity, generous ceilings), not
benchmarks: the per-operator 100 TB arguments live in SCALE.md; this file
catches the regression class where a plan silently degrades to something
quadratic/driver-bound that toy fixtures never notice.
"""

import time

import pytest
from pyspark.sql import functions as F

# million-row smokes: slow lane
pytestmark = pytest.mark.slow


def _elapsed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def test_exact_dedup_2m_rows(spark):
    from interference_spark.pipeline.dedup import exact_dedup

    docs = spark.range(0, 2_000_000).select(
        F.col("id").alias("doc_id"),
        # ~200k distinct texts → real duplicate structure
        F.concat(F.lit("document body "), (F.col("id") % 200_000).cast("string")).alias("text"),
    )
    out, dt = _elapsed(lambda: exact_dedup(docs).count())
    assert out == 200_000
    assert dt < 120, f"exact dedup over 2M rows took {dt:.0f}s"


def test_hist_quantiles_2m_rows(spark):
    from interference_spark.pipeline.sketch import hist_group_quantiles

    ev = spark.range(0, 2_000_000).select(
        (F.col("id") % 5).cast("string").alias("g"),
        ((F.col("id") * 2654435761) % 1000).cast("double").alias("v"),
    )
    rows, dt = _elapsed(
        lambda: hist_group_quantiles(ev, ("g",), "v", (0.5, 0.99)).collect()
    )
    assert len(rows) == 5
    for r in rows:
        assert 400 < r["q_5"] < 600  # near-uniform → median ≈ 500
    assert dt < 60, f"hist quantiles over 2M rows took {dt:.0f}s"


def test_funnel_2m_events(spark):
    from interference_spark.pipeline.stats import event_funnel

    ev = spark.range(0, 2_000_000).select(
        (F.col("id") % 100_000).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            ((F.col("id") / 100_000).cast("long") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("id") * 7 % 86_400).cast("double").cast("timestamp").alias("ts"),
    )
    rows, dt = _elapsed(lambda: event_funnel(ev).groupBy("reached").count().collect())
    assert sum(r["count"] for r in rows) == 100_000
    assert dt < 90, f"funnel over 2M events took {dt:.0f}s"


def test_minhash_signatures_100k_docs(spark):
    from interference_spark.pipeline.dedup import minhash_signatures

    docs = spark.range(0, 100_000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma delta epsilon zeta "),
            (F.col("id") % 1000).cast("string"),
            F.lit(" eta theta iota kappa"),
        ).alias("text"),
    )
    n, dt = _elapsed(lambda: minhash_signatures(docs).count())
    assert n == 100_000
    assert dt < 120, f"minhash signatures over 100k docs took {dt:.0f}s"


def test_upsert_on_5m_row_table_is_targeted(spark, tmp_path):
    """A 1k-row upsert onto a 5M-row multi-part table must run the
    file-pruned path and leave untouched parts byte-identical."""
    import os

    from interference_spark import Engine
    from interference_spark.dml import store

    eng = Engine(spark=spark, warehouse=str(tmp_path / "wh"))
    td = eng.register_table("big", "id long, v long", id_col="id")
    for start in range(0, 5_000_000, 1_000_000):
        store.append_df(
            td,
            spark.range(start, start + 1_000_000).select(
                F.col("id"), (F.col("id") * 3).alias("v")
            ),
        )
    parts_before = {p: os.path.getmtime(p) for p in store._parts(td)}
    assert len(parts_before) >= 5
    new = spark.range(4_999_000, 5_000_000).select(
        F.col("id"), F.lit(-1).cast("long").alias("v")
    )
    _, dt = _elapsed(
        lambda: store.upsert(spark, td, new)
    )
    untouched = [
        p for p, m in parts_before.items()
        if p in set(store._parts(td)) and os.path.getmtime(p) == m
    ]
    assert len(untouched) >= 4, "targeted merge rewrote unaffected parts"
    assert eng.table("big").filter(F.col("v") == -1).count() == 1_000
    assert dt < 90, f"targeted upsert on 5M-row table took {dt:.0f}s"
