"""Incremental materialized rollups: aggregate views over managed tables
maintained by reading ONLY part files added since the last refresh.

The reference has no materialized-view machinery (its G$ group sinks are
per-query scratch tables — ``sql/SQLCursor.java`` group path); this module
is a scale extension for the training-data-pipeline mandate: corpus-level
statistics (per-source doc counts, token budgets, per-type event rollups)
recomputed over an append-mostly 100 TB table must cost O(new data), not
O(table).

Design (the classic partial-aggregate view-maintenance trick):

* state = the FINAL aggregate table keyed by ``keys`` — for the supported
  aggregate set {count, sum, min, max, kmv, cms, hist} the final values are
  themselves mergeable partials: count merges by sum, a KMV distinct
  sketch merges as the k smallest of the distinct union of two sorted
  hash arrays, and Count-Min counter tables / fixed-width histograms merge
  by cell-wise sum — the classic mergeable-summary properties. avg =
  sum/count, :func:`kmv_estimate` (distinct count), :func:`cms_estimate`
  (value frequency) and :func:`hist_quantile` (approximate percentiles)
  derive at read time.
* refresh lists the source's part files, reads only the unseen ones,
  partial-aggregates them, unions with the stored state, and re-aggregates
  — one shuffle over (state ∪ delta), both sides already key-collapsed.
* deletes/rewrites break the append-only premise, so refresh detects them
  (tombstone set changed, or a previously-applied part file vanished via
  upsert/compaction/threshold) and falls back to a full rebuild from
  ``read_managed``.  min/max are not delete-decrementable in general, so
  the fallback is the only correct answer — refresh reports which mode ran.
* commit protocol: new state dir ``state-<uuid>`` is written first, then
  ``meta.json`` is swapped atomically (tmp + rename) to point at it, then
  the old state dir is removed.  A crash between steps leaves either the
  old consistent view or an orphan directory — never a half-applied state,
  and never double-counts a delta file.

Overflow note: sums accumulate in the expression's own type. BIGINT sums
are exact to ~9.2e18 — pass a ``CAST(... AS DECIMAL(38,0))`` expression
when a 100 TB sum can exceed that.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, functions as F

from ..errors import InvalidParameter
from . import store

_AGG_FNS = ("count", "sum", "min", "max", "kmv", "cms", "hist")
# merge function for already-aggregated state rows
_MERGE_FN = {"count": "sum", "sum": "sum", "min": "min", "max": "max"}
_KMV_DEFAULT_K = 64
_TWO_52 = 4503599627370496.0
_CMS_DEFAULT_W = 64
_CMS_DEFAULT_D = 4
_HIST_DEFAULTS = (0.0, 1000.0, 256)


def _cms_dims(spec: tuple) -> tuple[int, int]:
    w = int(spec[2]) if len(spec) > 2 else _CMS_DEFAULT_W
    d = int(spec[3]) if len(spec) > 3 else _CMS_DEFAULT_D
    return w, d


def _hist_dims(spec: tuple) -> tuple[float, float, int]:
    lo = float(spec[2]) if len(spec) > 2 else _HIST_DEFAULTS[0]
    hi = float(spec[3]) if len(spec) > 3 else _HIST_DEFAULTS[1]
    bins = int(spec[4]) if len(spec) > 4 else _HIST_DEFAULTS[2]
    return lo, hi, bins


def _rollup_dir(engine, name: str) -> str:
    # underscore prefix: invisible to any directory-level Spark FileIndex
    return os.path.join(engine.warehouse, f"_rollup_{name}")


def _meta_path(engine, name: str) -> str:
    return os.path.join(_rollup_dir(engine, name), "meta.json")


def _load_meta(engine, name: str) -> dict:
    try:
        with open(_meta_path(engine, name)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise InvalidParameter(f"no rollup named {name!r}") from None


def _kmv_k(spec: tuple) -> int:
    return int(spec[2]) if len(spec) > 2 else _KMV_DEFAULT_K


def _agg_exprs(aggs: dict, partial: bool) -> list:
    """Aggregate expressions: over raw rows (partial=True) or over
    already-aggregated state rows (partial=False → count merges by sum,
    kmv arrays merge by k-smallest of the distinct union — both bounded)."""
    out = []
    for col, spec in aggs.items():
        fn = spec[0]
        if partial:
            if fn == "count":
                out.append(F.count(F.lit(1)).alias(col))
            else:
                out.append(getattr(F, fn)(F.expr(spec[1])).alias(col))
        elif fn == "kmv":
            merged = F.array_sort(F.array_distinct(F.flatten(F.collect_list(col))))
            out.append(F.slice(merged, 1, _kmv_k(spec)).alias(col))
        elif fn in ("cms", "hist"):
            # Count-Min counter tables and fixed-width histograms are both
            # ADDITIVE: merge = cell-wise sum of the flat count arrays
            n_cells = (
                _cms_dims(spec)[0] * _cms_dims(spec)[1]
                if fn == "cms"
                else _hist_dims(spec)[2]
            )
            out.append(
                F.expr(
                    f"aggregate(collect_list({col}), array_repeat(0L, {n_cells}),"
                    " (acc, a) -> zip_with(acc, a, (x, y) -> x + y))"
                ).alias(col)
            )
        else:
            out.append(getattr(F, _MERGE_FN[fn])(F.col(col)).alias(col))
    return out


def _partial(df: DataFrame, keys: list[str], aggs: dict) -> DataFrame:
    """Raw rows → one state row per key.  KMV sketch columns need their own
    pre-pass (distinct → per-key k smallest hashes, every stage bounded by
    k — never a per-key collect of all values); plain aggregates stay one
    groupBy.  The pieces join back on the keys (same source → same key
    set; outer join + count-backfill guards the no-plain-aggs case)."""
    from pyspark.sql import Window

    from ..pipeline.sketch import kmv_hash

    simple = {c: s for c, s in aggs.items() if s[0] not in ("kmv", "cms", "hist")}
    kmvs = {c: s for c, s in aggs.items() if s[0] == "kmv"}
    cmss = {c: s for c, s in aggs.items() if s[0] == "cms"}
    hists = {c: s for c, s in aggs.items() if s[0] == "hist"}
    parts = []
    if simple or not (kmvs or cmss or hists):
        parts.append(df.groupBy(*keys).agg(*_agg_exprs(simple, partial=True)))
    for col, spec in kmvs.items():
        k = _kmv_k(spec)
        d = df.select(*keys, kmv_hash(F.expr(spec[1])).alias("__hv")).distinct()
        if keys:
            w = Window.partitionBy(*keys).orderBy("__hv")
            topk = d.withColumn("__rn", F.row_number().over(w)).filter(
                F.col("__rn") <= k
            )
        else:
            topk = d.orderBy("__hv").limit(k)
        parts.append(
            topk.groupBy(*keys).agg(
                F.sort_array(F.collect_list("__hv")).alias(col)
            )
        )
    for col, spec in cmss.items():
        # CMS partial: per-key d×w cell counts scattered into ONE flat
        # array<long> per key — the explode fans out d rows per input row,
        # both groupBys are combiner-friendly, and the scatter folds at
        # most d·w cell rows per key (bounded, like the kmv collect)
        from ..pipeline.sketch import _cms_probes

        w, d = _cms_dims(spec)
        probes = df.select(
            *keys, F.explode(_cms_probes(F.expr(spec[1]), w, d)).alias("p")
        )
        cells = probes.groupBy(
            *keys, (F.col("p.d") * w + F.col("p.b")).alias("__cell")
        ).agg(F.count(F.lit(1)).alias("__cnt"))
        parts.append(
            cells.groupBy(*keys).agg(
                F.expr(
                    "aggregate(collect_list(struct(__cell, __cnt)),"
                    f" array_repeat(0L, {w * d}),"
                    " (acc, p) -> transform(acc,"
                    " (x, i) -> IF(i = p.__cell, x + p.__cnt, x)))"
                ).alias(col)
            )
        )
    for col, spec in hists.items():
        # histogram partial: per-key clamped-bin counts scattered into ONE
        # flat array<long> per key — same additive-cells shape as CMS, at
        # most ``bins`` cell rows per key on the scatter
        from ..pipeline.sketch import hist_bin

        lo, hi, bins = _hist_dims(spec)
        cells = df.groupBy(
            *keys, hist_bin(F.expr(spec[1]), lo, hi, bins).alias("__cell")
        ).agg(F.count(F.lit(1)).alias("__cnt"))
        parts.append(
            cells.groupBy(*keys).agg(
                F.expr(
                    "aggregate(collect_list(struct(__cell, __cnt)),"
                    f" array_repeat(0L, {bins}),"
                    " (acc, p) -> transform(acc,"
                    " (x, i) -> IF(i = p.__cell, x + p.__cnt, x)))"
                ).alias(col)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.join(p, keys, "outer") if keys else out.crossJoin(p)
    return out.select(*keys, *aggs)


def _commit_state(engine, name: str, df: DataFrame, meta: dict) -> None:
    rdir = _rollup_dir(engine, name)
    os.makedirs(rdir, exist_ok=True)
    state_dir = os.path.join(rdir, f"state-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(state_dir)
    old = None
    if os.path.exists(_meta_path(engine, name)):
        with open(_meta_path(engine, name)) as fh:
            old = json.load(fh).get("state_dir")
    meta["state_dir"] = os.path.basename(state_dir)
    tmp = _meta_path(engine, name) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.rename(tmp, _meta_path(engine, name))  # atomic commit point
    if old and old != meta["state_dir"]:
        shutil.rmtree(os.path.join(rdir, old), ignore_errors=True)
    # drop orphans from crashed refreshes (any state-* not the committed one)
    for d in glob.glob(os.path.join(rdir, "state-*")):
        if os.path.basename(d) != meta["state_dir"]:
            shutil.rmtree(d, ignore_errors=True)


def create(engine, name: str, source: str, keys: list[str], aggs: dict) -> dict:
    """Define a rollup and run the initial build.

    ``aggs`` maps output column → ``(fn, expr)`` with fn in
    {count, sum, min, max}; ``expr`` is a SQL expression over source
    columns (ignored for count).
    """
    for col, spec in aggs.items():
        if spec[0] not in _AGG_FNS:
            raise InvalidParameter(
                f"rollup agg {col!r}: fn must be one of {_AGG_FNS}, got {spec[0]!r}"
            )
    td = engine.catalog.get(source)
    if not td.managed:
        raise InvalidParameter(
            f"rollup source {source!r} must be a managed table (part-file "
            f"listing drives incremental refresh)"
        )
    if os.path.exists(_meta_path(engine, name)):
        raise InvalidParameter(f"rollup {name!r} already exists")
    meta = {"source": source, "keys": list(keys), "aggs": {k: list(v) for k, v in aggs.items()}}
    os.makedirs(_rollup_dir(engine, name), exist_ok=True)
    return _refresh(engine, name, meta, initial=True)


def refresh(engine, name: str) -> dict:
    return _refresh(engine, name, _load_meta(engine, name), initial=False)


def _refresh(engine, name: str, meta: dict, initial: bool) -> dict:
    td = engine.catalog.get(meta["source"])
    keys = meta["keys"]
    aggs = {k: tuple(v) for k, v in meta["aggs"].items()}
    parts_now = [os.path.basename(p) for p in store._parts(td)]
    tombs_now = [os.path.basename(p) for p in store._tombstone_parts(td)]
    applied = set(meta.get("applied_parts", ()))
    new = [p for p in parts_now if p not in applied]

    needs_rebuild = (
        initial
        or meta.get("applied_tombstones", []) != tombs_now  # deletes landed
        or any(p not in set(parts_now) for p in applied)  # rewrite/compaction
    )
    if needs_rebuild:
        full = _partial(store.read_managed(engine.spark, td), keys, aggs)
        meta["applied_parts"] = parts_now
        meta["applied_tombstones"] = tombs_now
        _commit_state(engine, name, full, meta)
        return {"mode": "initial" if initial else "rebuild", "files_read": len(parts_now)}
    if not new:
        return {"mode": "noop", "files_read": 0}

    delta = engine.spark.read.schema(td.require_schema()).parquet(
        *[os.path.join(td.path, p) for p in new]
    )
    # tombstones unchanged since last refresh, but a delta row could carry
    # an already-dead id (re-append after delete): filter like read_managed
    # does, over the delta only
    delta = store.without_tombstones(
        engine.spark, td, delta, store._tombstone_parts(td)
    )
    merged = (
        read(engine, name)
        .unionByName(_partial(delta, keys, aggs))
        .groupBy(*keys)
        .agg(*_agg_exprs(aggs, partial=False))
    )
    meta["applied_parts"] = parts_now
    meta["applied_tombstones"] = tombs_now
    _commit_state(engine, name, merged, meta)
    return {"mode": "incremental", "files_read": len(new)}


def read(engine, name: str) -> DataFrame:
    meta = _load_meta(engine, name)
    return engine.spark.read.parquet(
        os.path.join(_rollup_dir(engine, name), meta["state_dir"])
    )


def kmv_estimate(col, k: int = _KMV_DEFAULT_K):
    """Distinct-count estimate from a stored KMV sketch column: exact when
    fewer than k hashes were seen, else the classic (k−1)/(h_k/2^52) —
    the same double op chain a SQL oracle reproduces."""
    arr = F.col(col) if isinstance(col, str) else col
    return F.when(F.size(arr) < k, F.size(arr).cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.element_at(arr, -1).cast("double") / F.lit(_TWO_52))
    )


def cms_estimate(
    arr,
    value,
    width: int = _CMS_DEFAULT_W,
    depth: int = _CMS_DEFAULT_D,
):
    """Frequency estimate of ``value`` from a stored flat CMS array: min
    over the value's ``depth`` cells (the classic upper-bound estimate —
    collisions only over-count). Deterministic md5 bucket family, so a SQL
    oracle recomputes identical cells."""
    from ..pipeline.sketch import cms_bucket

    arr = F.col(arr) if isinstance(arr, str) else arr
    if not isinstance(value, Column):
        value = F.lit(value)
    cells = [
        F.element_at(
            arr,
            (F.lit(di * width) + cms_bucket(value, f"cms{di}:", width) + 1).cast(
                "int"
            ),
        )
        for di in range(depth)
    ]
    return F.least(*cells)


def hist_quantile(
    arr,
    q: float,
    lo: float = _HIST_DEFAULTS[0],
    hi: float = _HIST_DEFAULTS[1],
    bins: int = _HIST_DEFAULTS[2],
):
    """Quantile estimate from a stored flat histogram array: running-sum
    fold to the first bin reaching rank ⌈q·n⌉, linear interpolation inside
    it — the identical integer-input/one-double-op chain a SQL oracle
    recomputes (see ``pipeline.sketch.hist_group_quantiles``)."""
    arr = F.col(arr) if isinstance(arr, str) else arr
    w = (hi - lo) / bins
    total = F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.greatest(
        F.lit(1).cast("long"), F.ceil(F.lit(q) * total.cast("double"))
    )
    z = F.zip_with(
        arr,
        F.sequence(F.lit(0), F.lit(bins - 1)),
        lambda c, i: F.struct(c.alias("c"), i.alias("i")),
    )
    acc0 = F.struct(
        F.lit(0).cast("long").alias("cum"), F.lit(None).cast("double").alias("est")
    )

    def step(acc, x):
        crossed = (acc["est"].isNull()) & (acc["cum"] + x["c"] >= target)
        e = F.lit(lo) + F.lit(w) * (
            x["i"].cast("double")
            + (target - acc["cum"]).cast("double") / x["c"].cast("double")
        )
        return F.struct(
            (acc["cum"] + x["c"]).alias("cum"),
            F.when(acc["est"].isNotNull(), acc["est"])
            .when(crossed, e)
            .alias("est"),
        )

    return F.aggregate(z, acc0, step)["est"]


def drop(engine, name: str) -> None:
    shutil.rmtree(_rollup_dir(engine, name), ignore_errors=True)
