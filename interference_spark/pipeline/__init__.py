"""Training-data pipeline operators: dedup, similarity, text, multimodal."""

import math
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sql_double(v: float) -> str:
    """SQL text of one double literal: ``repr`` + ``D`` for finite values
    (``repr`` round-trips and the parser's conversion is correctly
    rounded), a string cast for NaN and ±inf, which have no literal."""
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        sign = "" if v > 0 else "-"
        return f"CAST('{sign}Infinity' AS DOUBLE)"
    return repr(v) + "D"


def lit_double_array(values) -> Column:
    """Literal ``array<double>`` built with ONE ``F.expr`` parse instead
    of a ``F.lit`` per element (each Column op is a blocking py4j round
    trip — a dim-64 query vector costs ~65 trips, a planes×dim
    hyperplane matrix ~400, repeated on EVERY query construction).
    Collects to the same doubles as the lit loop — bit for bit on the
    values a test pins: NaN, ±inf, -0.0, a subnormal."""
    vals = [float(v) for v in values]
    if not vals:
        return F.array().cast("array<double>")
    return F.expr("array(" + ",".join(map(_sql_double, vals)) + ")")


def lit_double_matrix(rows) -> Column:
    """Literal ``array<array<double>>`` in one parse — see
    :func:`lit_double_array` for the py4j/value contract."""
    inner = [
        "array(" + ",".join(_sql_double(float(v)) for v in row) + ")"
        for row in rows
    ]
    if not inner:
        return F.array().cast("array<array<double>>")
    return F.expr("array(" + ",".join(inner) + ")")


def lit_int_array(values) -> Column:
    """Literal integer array in one parse.  Plain digit literals get the
    same per-element INT-or-BIGINT typing rule as ``F.lit(int)``, and
    ``array()`` applies the same widest-type coercion, so the element
    type matches the lit-loop construction it replaces.  INT_MIN is
    cast explicitly: SQL may read ``-2147483648`` as unary minus on the
    BIGINT ``2147483648``, while ``F.lit`` types it INT."""
    vals = [int(v) for v in values]
    if not vals:
        return F.array().cast("array<int>")
    return F.expr(
        "array("
        + ",".join(
            "CAST(-2147483648 AS INT)" if v == -(2**31) else str(v)
            for v in vals
        )
        + ")"
    )


#: Rows an iterative trainer may bring to the driver in one collect: BPE's
#: distinct-word table (``bpe.train_from_words``) and WordPiece's fused
#: symbol+pair count table (``wordpiece.wordpiece_train``).  At or below
#: it the trainer learns on the driver from that one collect; above it the
#: round runs distributed, so driver memory stays bounded at any scale.
DRIVER_COLLECT_CAP = 65536


def local_frame(spark, rows, schema) -> DataFrame:
    """A driver-built DataFrame as an Arrow ``LocalRelation``: ``rows``
    (tuples in schema order) plus a DDL string or ``StructType`` become
    one pyarrow Table, so collecting the frame runs no Spark job.  A
    plain-list ``createDataFrame`` plans an RDD scan instead, and each
    collect of it starts a Python-worker job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    st = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    asch = to_arrow_schema(st)
    cols = list(zip(*rows)) if rows else [()] * len(asch)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, asch)], schema=asch
    )
    return spark.createDataFrame(table, st)


@contextmanager
def iterative_stage_conf(spark):
    """Scoped AQE settings for ITERATIVE algorithms (GD loops, merge
    rounds) and multi-job DML sequences (dml.store.upsert): every
    iteration/commit re-runs the same small stages, so per-stage
    task-launch overhead multiplies by step count and dominates wall
    clock long before data size matters.

    * ``coalescePartitions.parallelismFirst=false`` — honor the advisory
      partition size instead of refusing to coalesce below core count
      (Spark's own config doc recommends false); post-shuffle partitions
      then derive from DATA SIZE at every scale — advisory-sized at
      100 TB, one task for a KB-sized per-step aggregate.
    * ``canChangeCachedPlanOutputPartitioning=true`` — let AQE size
      CACHED-plan output partitions too; without it every persisted
      loop intermediate is pinned at spark.sql.shuffle.partitions and
      each of the k× re-scans pays that many task launches (r12
      measured a persisted 31-row word table scanning as 32 tasks per
      training round; one GD step: 2.37 s -> 0.67 s with these two).

    SCOPED, not session defaults: on cpu-dense single-pass queries at
    small scale the same coalescing serializes work that wants every
    core (r12 full-bench A/B: sim_cosine_topk 4.8x slower session-wide),
    so only the iterative loops opt in.  Settings restore on exit even
    on error; caches built inside the scope keep their (size-derived)
    partitioning afterwards, which is exactly the point."""
    saved = {}
    try:
        for k, v in _ITER_CONFS.items():
            saved[k] = spark.conf.get(k, None)  # None: not set in the session
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_ITER_CONFS = {
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}

#: Ledger of DataFrames this package persist()ed on behalf of a returned
#: plan (LSH hyperplane fingerprints, simhash fingerprints, shared GD
#: features, …).  Those caches exist so two branches of ONE returned
#: plan share a single materialization; their useful life ends when the
#: caller's query completes, but only the caller knows when that is — so
#: each persist is registered here and callers (benches, long-lived
#: sessions) release them with ``release_caches()`` instead of the blunt
#: ``spark.catalog.clearCache()``.  STRONG references on purpose:
#: Spark's CacheManager pins cached plans JVM-side independent of the
#: Python object's lifetime, so a weak entry could never release a
#: cache whose DataFrame the caller already dropped.  A ledger row is a
#: plan handle (bytes, not data); ``release_caches`` empties the list.
_cache_ledger: list[DataFrame] = []


def register_cache(df: DataFrame) -> DataFrame:
    """persist() a DataFrame and record it in the package cache ledger
    (see ``release_caches``).  Returns the persisted DataFrame."""
    df.persist()
    _cache_ledger.append(df)
    return df


def release_caches(blocking: bool = False) -> int:
    """unpersist() every ledger-registered cache and return how many
    were released.  The VERDICT r11 ask-#6 contract: a long-lived
    session calls this after consuming a returned plan, so corpus-sized
    fingerprint caches never accumulate; at 100 TB prefer materializing
    fingerprints to a table (see similarity.py notes)."""
    n = 0
    while _cache_ledger:
        _cache_ledger.pop().unpersist(blocking=blocking)
        n += 1
    return n


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to cluster parallelism when the source arrives in too
    few partitions (a single small parquet file scans as ONE partition, so a
    Pandas-UDF stage would run on one core). At 100 TB inputs span thousands
    of row groups and this is a no-op; at test SFs it keeps every core busy."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
