"""Query inventory: the driver-facing catalog of implemented operators.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent ANSI-SQL oracle for DuckDB (or ``None`` where the operator is not
SQL-expressible → the driver records a rows-only check).

Float determinism policy (this is what makes value-hash comparison work):

* sums over *integral-valued* doubles (l_quantity, user_id) are exact in
  IEEE double regardless of order → safe to SUM directly;
* sums over fractional doubles (prices, discounts) are order-dependent →
  every such aggregate casts the (deterministic, per-row) double product to
  ``DECIMAL(38, N)`` first, sums exactly, then casts back to double. Both
  engines perform the identical rounding chain → bit-identical results;
* timestamps are returned as epoch seconds (``CAST(ts AS LONG)`` / DuckDB
  ``CAST(floor(epoch(ts)) AS BIGINT)``) so session timezones can't skew the
  comparison.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import Engine

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_ENGINES: dict[tuple[int, str], Engine] = {}


def engine_for(spark: SparkSession, sf_dir: str) -> Engine:
    key = (id(spark), sf_dir)
    if key not in _ENGINES:
        eng = Engine(spark=spark)
        eng.register_sf_dir(sf_dir)
        _ENGINES[key] = eng
    return _ENGINES[key]


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _dec(col: F.Column, scale: int = 6) -> F.Column:
    """Exact-accumulation sum: deterministic double per row → decimal."""
    return col.cast(f"decimal(38,{scale})")


# ---------------------------------------------------------------------
# Quantized split-sum: exact money aggregation WITHOUT decimal.
#
# Decimal(38,_) sums are exact but ~3x slower than native long sums (they
# fall out of the primitive fast path in Spark's hash aggregate).  For
# non-negative money-like doubles we instead quantize each (deterministic)
# per-row value to q = floor(x * 1e6) — an exact integer < 2^53 — and sum
# hi = q >> 20 and lo = q & 0xFFFFF as two plain BIGINT aggregates.
# Overflow headroom: at TPC-H magnitudes q < 2^38, so hi < 2^18 and
# lo < 2^20 per row; int64 sums survive ~2^43 (~8e12) rows per group —
# comfortably past 100 TB — with no decimal anywhere in the plan.
# The recombination ((double)hi * 2^20 + (double)lo) / 1e6 is the identical
# IEEE op chain in DuckDB, so value hashes match bit for bit.
# ---------------------------------------------------------------------

_Q_SCALE = 1_000_000  # 6-decimal quantization
_Q_SHIFT = 20
_Q_MASK = (1 << _Q_SHIFT) - 1


def _qsum_parts(col: F.Column, name: str) -> list[F.Column]:
    """Aggregate-side half of the split sum (see block comment above).
    Valid for negative values too: arithmetic shift gives
    q == (q >> 20) * 2^20 + (q & 0xFFFFF) for any int64, and DuckDB's
    ``>>`` is the same arithmetic shift (verified)."""
    q = F.floor(col * float(_Q_SCALE))
    return [
        F.sum(F.shiftright(q, _Q_SHIFT)).alias(f"__{name}_hi"),
        F.sum(q.bitwiseAND(F.lit(_Q_MASK))).alias(f"__{name}_lo"),
    ]


def _qsum_val_expr(name: str) -> F.Column:
    """Recombination half: double total with a DuckDB-identical op chain."""
    return (
        F.col(f"__{name}_hi").cast("double") * float(1 << _Q_SHIFT)
        + F.col(f"__{name}_lo").cast("double")
    ) / float(_Q_SCALE)


def _qsum_value(name: str) -> F.Column:
    return _qsum_val_expr(name).alias(name)


def _qsum_sql_expr(expr: str) -> str:
    """DuckDB rendering of the same split sum (HUGEINT→DOUBLE conversion of
    the same exact integers → identical doubles)."""
    q = f"CAST(floor(({expr}) * 1000000.0) AS BIGINT)"
    return (
        f"((CAST(sum({q} >> 20) AS DOUBLE) * 1048576.0 + "
        f"CAST(sum({q} & 1048575) AS DOUBLE)) / 1000000.0)"
    )


def _qsum_sql(expr: str, name: str) -> str:
    return f"{_qsum_sql_expr(expr)} AS {name}"


def _epoch(col) -> F.Column:
    """Epoch seconds from TIMESTAMP or TIMESTAMP_NTZ (via session-UTC)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("long")


# =====================================================================
# Dialect-driven queries — exercise parser → compiler → Catalyst
# (SURVEY §2.1-S1/S4, §2.2 P1-P11, §2.3 J1-J8, §2.4, §2.6, §2.7)
# =====================================================================

@query(
    "dialect_join_filter",
    """SELECT n.n_name AS nn_name, c.c_name AS cc_name, c.c_acctbal AS cc_acctbal
       FROM nation n, customer c
       WHERE n.n_nationkey = c.c_nationkey AND c.c_acctbal >= 0.0""",
)
def dialect_join_filter(spark, sf_dir):
    """Equi-join + typed float literal (reference manual's Dept/Emp join
    shape; result naming = alias concatenation)."""
    return engine_for(spark, sf_dir).session().execute(
        "select n.n_name, c.c_name, c.c_acctbal from nation n, customer c "
        "where n.n_nationkey = c.c_nationkey and c.c_acctbal >= 0.0"
    )


@query(
    "dialect_multiway_join",
    """SELECT r.r_name AS rr_name, n.n_name AS nn_name, s.s_name AS ss_name
       FROM region r, nation n, supplier s
       WHERE r.r_regionkey = n.n_regionkey AND n.n_nationkey = s.s_nationkey""",
)
def dialect_multiway_join(spark, sf_dir):
    """3-way comma-join; the reference builds a left-deep SQLCursor chain
    (sql/SQLJoin.java:91-121) — we hand Catalyst the join graph."""
    return engine_for(spark, sf_dir).session().execute(
        "select r.r_name, n.n_name, s.s_name from region r, nation n, supplier s "
        "where r.r_regionkey = n.n_regionkey and n.n_nationkey = s.s_nationkey"
    )


@query(
    "dialect_group_agg",
    """SELECT count(l.l_orderkey) AS cnt, sum(l.l_quantity) AS sum_qty,
              avg(l.l_quantity) AS avg_qty, min(l.l_quantity) AS min_qty,
              max(l.l_quantity) AS max_qty,
              l.l_returnflag AS ll_returnflag, l.l_linestatus AS ll_linestatus
       FROM lineitem l GROUP BY l.l_returnflag, l.l_linestatus""",
)
def dialect_group_agg(spark, sf_dir):
    """GROUP BY with all five group functions (A1-A5; l_quantity doubles are
    integral-valued → exact sums)."""
    return engine_for(spark, sf_dir).session().execute(
        "select count(l.l_orderkey) cnt, sum(l.l_quantity) sum_qty, "
        "avg(l.l_quantity) avg_qty, min(l.l_quantity) min_qty, "
        "max(l.l_quantity) max_qty, l.l_returnflag, l.l_linestatus "
        "from lineitem l group by l.l_returnflag, l.l_linestatus"
    )


@query(
    "dialect_in_list",
    """SELECT p.p_name AS pp_name, p.p_brand AS pp_brand, p.p_size AS pp_size
       FROM part p
       WHERE p.p_brand IN ('Brand#1','Brand#2','Brand#3') AND p.p_size >= 10""",
)
def dialect_in_list(spark, sf_dir):
    """Bracket IN-list + numeric predicate (P5, P10)."""
    return engine_for(spark, sf_dir).session().execute(
        "select p.p_name, p.p_brand, p.p_size from part p "
        "where p.p_brand in ['Brand#1', 'Brand#2', 'Brand#3'] and p.p_size >= 10"
    )


@query(
    "dialect_like_contains",
    """SELECT p.p_partkey AS pp_partkey, p.p_name AS pp_name FROM part p
       WHERE p.p_name LIKE '%wid%'""",
)
def dialect_like_contains(spark, sf_dir):
    """Reference LIKE = substring contains (P7) — oracle uses %..%."""
    return engine_for(spark, sf_dir).session().execute(
        "select p.p_partkey, p.p_name from part p where p.p_name like 'wid'"
    )


@query(
    "dialect_theta_join",
    """SELECT n.n_name AS nn_name, s.s_name AS ss_name
       FROM nation n, supplier s
       WHERE n.n_nationkey < s.s_nationkey AND n.n_regionkey = 0""",
)
def dialect_theta_join(spark, sf_dir):
    """Non-equi (theta) join — reference J8 nested-loops fallback; Spark
    broadcasts the small side."""
    return engine_for(spark, sf_dir).session().execute(
        "select n.n_name, s.s_name from nation n, supplier s "
        "where n.n_nationkey < s.s_nationkey and n.n_regionkey = 0"
    )


@query(
    "dialect_left_join",
    """SELECT c.c_custkey AS cc_custkey, c.c_acctbal AS cc_acctbal,
              o.o_orderkey AS oo_orderkey, o.o_totalprice AS oo_totalprice
       FROM customer c LEFT JOIN orders o
         ON c.c_custkey = o.o_custkey AND o.o_totalprice > 300000.0
       WHERE c.c_acctbal > 9000.0""",
)
def dialect_left_join(spark, sf_dir):
    """LEFT [OUTER] JOIN dialect extension (SURVEY §2.3 marks outer joins
    absent from the reference — its only join syntax is inner comma-FROM).
    ON accepts a flat AND with join-time value conditions (the
    o_totalprice bound filters the right side BEFORE the join, so
    unmatched customers survive with NULLs — pushed into WHERE it would
    collapse to an inner join); WHERE stays post-join per ANSI."""
    return engine_for(spark, sf_dir).session().execute(
        "select c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice "
        "from customer c left join orders o "
        "on c.c_custkey = o.o_custkey and o.o_totalprice > 300000.0 "
        "where c.c_acctbal > 9000.0"
    )


@query(
    "dialect_order_by",
    """SELECT c.c_custkey AS cc_custkey, c.c_name AS cc_name FROM customer c
       ORDER BY c.c_custkey""",
)
def dialect_order_by(spark, sf_dir):
    """Ascending-only ORDER BY (O1)."""
    return engine_for(spark, sf_dir).session().execute(
        "select c.c_custkey, c.c_name from customer c order by c.c_custkey"
    )


@query(
    "dialect_distinct",
    """SELECT DISTINCT o.o_orderstatus AS oo_orderstatus,
              o.o_orderpriority AS oo_orderpriority FROM orders o""",
)
def dialect_distinct(spark, sf_dir):
    """DISTINCT — parsed-only in the reference (A12), implemented for real."""
    return engine_for(spark, sf_dir).session().execute(
        "select distinct o.o_orderstatus, o.o_orderpriority from orders o"
    )


@query("dialect_select_star", "SELECT r_regionkey, r_name FROM region")
def dialect_select_star(spark, sf_dir):
    """Single-table SELECT * (P2: entity result)."""
    return engine_for(spark, sf_dir).session().execute("select * from region r")


@query(
    "dialect_in_subquery",
    """SELECT c.c_custkey AS cc_custkey, c.c_name AS cc_name FROM customer c
       WHERE c.c_nationkey IN
             (SELECT n_nationkey FROM nation WHERE n_name LIKE '%NATION_1%')""",
)
def dialect_in_subquery(spark, sf_dir):
    """IN [SELECT ...] — dead stub in the reference (P6), implemented as a
    left-semi join."""
    return engine_for(spark, sf_dir).session().execute(
        "select c.c_custkey, c.c_name from customer c where c.c_nationkey in "
        "[select n.n_nationkey from nation n where n.n_name like 'NATION_1']"
    )


@query(
    "dialect_grand_total",
    """SELECT count(o.o_orderkey) AS cnt, min(o.o_totalprice) AS mn,
              max(o.o_totalprice) AS mx FROM orders o""",
)
def dialect_grand_total(spark, sf_dir):
    """All-function select list, no GROUP BY → single row (A9)."""
    return engine_for(spark, sf_dir).session().execute(
        "select count(o.o_orderkey) cnt, min(o.o_totalprice) mn, "
        "max(o.o_totalprice) mx from orders o"
    )


@query(
    "dialect_window_count_sliding",
    """SELECT cnt, sum_uid, mn FROM (
         SELECT CAST(count(event_id) OVER w AS BIGINT) AS cnt,
                CAST(sum(user_id) OVER w AS BIGINT) AS sum_uid,
                min(value) OVER w AS mn,
                row_number() OVER (ORDER BY event_id) AS rn
         FROM events
         WINDOW w AS (ORDER BY event_id ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
       ) WHERE rn >= 100""",
)
def dialect_window_count_sliding(spark, sf_dir):
    """WINDOW BY col INTERVAL = n — the reference's count-based sliding
    window (A11/C3), batch semantics: one aggregate row per arriving row
    from the n-th onward."""
    return engine_for(spark, sf_dir).session().execute(
        "select count(e.event_id) cnt, sum(e.user_id) sum_uid, min(e.value) mn "
        "from events e window by e.event_id interval = 100"
    )


@query(
    "dialect_or_conditions",
    """SELECT o.o_orderkey AS oo_orderkey, o.o_totalprice AS oo_totalprice
       FROM orders o
       WHERE o.o_orderstatus = 'P' AND (o.o_orderpriority = '1-URGENT'
             OR o.o_totalprice >= 400000.0)""",
)
def dialect_or_conditions(spark, sf_dir):
    """Nested AND(OR) tree — one connective kind per level (P8)."""
    return engine_for(spark, sf_dir).session().execute(
        "select o.o_orderkey, o.o_totalprice from orders o "
        "where o.o_orderstatus = 'P' and (o.o_orderpriority = '1-URGENT' "
        "or o.o_totalprice >= 400000.0)"
    )


@query(
    "dialect_having",
    """SELECT count(l_orderkey) AS cnt, sum(l_quantity) AS sum_qty,
              l_returnflag AS ll_returnflag
       FROM lineitem GROUP BY l_returnflag
       HAVING count(l_orderkey) > 100 AND max(l_extendedprice) >= 900.0""",
)
def dialect_having(spark, sf_dir):
    """HAVING — dialect extension (the reference's HAVING is a dead
    constant, SURVEY §2.4). The max() predicate references a NON-selected
    aggregate: it compiles into a hidden aggregate in the same single agg
    pass (one shuffle), filtered post-aggregate and dropped from the
    projection."""
    return engine_for(spark, sf_dir).session().execute(
        "select count(l.l_orderkey) cnt, sum(l.l_quantity) sum_qty, "
        "l.l_returnflag from lineitem l group by l.l_returnflag "
        "having count(l.l_orderkey) > 100 and max(l.l_extendedprice) >= 900.0"
    )


@query(
    "dialect_limit_topk",
    """SELECT o_orderkey AS oo_orderkey, o_totalprice AS oo_totalprice
       FROM orders WHERE o_orderstatus = 'O'
       ORDER BY oo_orderkey LIMIT 10""",
)
def dialect_limit_topk(spark, sf_dir):
    """LIMIT — dialect extension (the reference has no LIMIT/TOP-K token,
    SURVEY §2.6). With the dialect's ascending ORDER BY, Catalyst executes
    TakeOrderedAndProject: per-partition top-k + driver merge, no global
    sort — the plan that survives 100 TB."""
    return engine_for(spark, sf_dir).session().execute(
        "select o.o_orderkey, o.o_totalprice from orders o "
        "where o.o_orderstatus = 'O' order by o.o_orderkey limit 10"
    )


@query(
    "dialect_set_ops",
    """SELECT n_name AS nn_name FROM nation WHERE n_regionkey = 0
       UNION
       SELECT n_name AS nn_name FROM nation WHERE n_regionkey = 1
       INTERSECT
       SELECT n_name AS nn_name FROM nation WHERE n_nationkey >= 10
       EXCEPT
       SELECT n_name AS nn_name FROM nation WHERE n_nationkey = 1""",
)
def dialect_set_ops(spark, sf_dir):
    """UNION/INTERSECT/EXCEPT — dialect extension (the reference has no set
    operations, SURVEY §2.7). ANSI semantics incl. precedence: INTERSECT
    binds tighter, so this is (r0 ∪ (r1 ∩ key≥10)) − {key=1} in both
    engines."""
    return engine_for(spark, sf_dir).session().execute(
        "select n.n_name from nation n where n.n_regionkey = 0 "
        "union select n.n_name from nation n where n.n_regionkey = 1 "
        "intersect select n.n_name from nation n where n.n_nationkey >= 10 "
        "except select n.n_name from nation n where n.n_nationkey = 1"
    )


@query(
    "dialect_union_all",
    """SELECT r_name AS rr_name FROM region
       UNION ALL SELECT r_name AS rr_name FROM region""",
)
def dialect_union_all(spark, sf_dir):
    """UNION ALL bag semantics (duplicates preserved — no dedup shuffle)."""
    return engine_for(spark, sf_dir).session().execute(
        "select r.r_name from region r union all select r.r_name from region r"
    )


@query(
    "dialect_scalar_funcs",
    """SELECT upper(c.c_mktsegment) AS seg,
              lower(c.c_name) AS lname,
              length(c.c_name) AS name_len,
              abs(c.c_acctbal) AS abal,
              CAST(floor(c.c_acctbal) AS BIGINT) AS bal_floor,
              CAST(ceil(c.c_acctbal) AS BIGINT) AS bal_ceil
       FROM customer c
       WHERE c.c_custkey <= 200""",
)
def dialect_scalar_funcs(spark, sf_dir):
    """Scalar-function breadth (EXTENSION — the reference tokenizer knows
    only the dead TO_NUMBER/TO_CHAR/TO_DATE trio, SURVEY §2.8): string and
    numeric scalar functions through the dialect, all JVM built-ins inside
    whole-stage codegen."""
    return engine_for(spark, sf_dir).session().execute(
        "select upper(c.c_mktsegment) seg, lower(c.c_name) lname, "
        "length(c.c_name) name_len, abs(c.c_acctbal) abal, "
        "floor(c.c_acctbal) bal_floor, ceil(c.c_acctbal) bal_ceil "
        "from customer c where c.c_custkey <= 200"
    )


@query(
    "dialect_date_parts",
    """SELECT CAST(year(e.ts) AS INT) AS yr, CAST(month(e.ts) AS INT) AS mo,
              count(*) AS cnt, CAST(sum(e.user_id) AS BIGINT) AS sum_uid
       FROM events e
       GROUP BY CAST(year(e.ts) AS INT), CAST(month(e.ts) AS INT)""",
)
def dialect_date_parts(spark, sf_dir):
    """Date-part extraction (YEAR/MONTH) as GROUP BY keys through the
    dialect — derived grouping columns without a pre-projection pass."""
    return engine_for(spark, sf_dir).session().execute(
        "select year(e.ts) yr, month(e.ts) mo, count(e.event_id) cnt, "
        "sum(e.user_id) sum_uid from events e group by year(e.ts), month(e.ts)"
    )


# =====================================================================
# DataFrame-level OLAP — TPC-H-shaped plans at scale
# =====================================================================

@query(
    "q1_pricing_summary",
    f"""SELECT l_returnflag, l_linestatus,
              sum(l_quantity) AS sum_qty,
              {_qsum_sql("l_extendedprice", "sum_base_price")},
              {_qsum_sql("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
              {_qsum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
              avg(l_quantity) AS avg_qty,
              {_qsum_sql("l_discount", "sum_disc")},
              count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus""",
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan → partial+final agg, filter pushed to parquet.
    Money sums use the quantized split-sum (no decimal in the plan — 3x
    faster hash aggregate, exact past 100 TB; see _qsum_parts)."""
    e = engine_for(spark, sf_dir)
    l = e.table("lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    g = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        *_qsum_parts(F.col("l_extendedprice"), "sum_base_price"),
        *_qsum_parts(disc_price, "sum_disc_price"),
        *_qsum_parts(charge, "sum_charge"),
        F.avg("l_quantity").alias("avg_qty"),
        *_qsum_parts(F.col("l_discount"), "sum_disc"),
        F.count("*").alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        _qsum_value("sum_base_price"),
        _qsum_value("sum_disc_price"),
        _qsum_value("sum_charge"),
        "avg_qty",
        _qsum_value("sum_disc"),
        "count_order",
    )


@query(
    "q3_shipping_priority",
    f"""SELECT l.l_orderkey AS l_orderkey,
              {_qsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
              CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS odate_epoch,
              o.o_orderpriority AS o_orderpriority
       FROM customer c, orders o, lineitem l
       WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey = o.o_custkey
         AND l.l_orderkey = o.o_orderkey
         AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
         AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
       GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
       ORDER BY revenue DESC, l_orderkey
       LIMIT 10""",
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → 3-way join → agg → top-k.
    No forced broadcast on customer (it scales with the data — AQE
    broadcasts when the filtered side fits); top-k runs as
    TakeOrderedAndProject."""
    e = engine_for(spark, sf_dir)
    c = e.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = e.table("orders").filter(F.col("o_orderdate") < "1998-06-01")
    l = e.table("lineitem").filter(F.col("l_shipdate") > "1998-06-01")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(*_qsum_parts(revenue, "revenue"))
        .select(
            "l_orderkey",
            _qsum_value("revenue"),
            _epoch("o_orderdate").alias("odate_epoch"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    f"""SELECT n.n_name AS n_name,
              {_qsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
       FROM customer c, orders o, lineitem l, supplier s, nation n, region r
       WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
         AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
         AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
         AND r.r_name = 'ASIA'
         AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       GROUP BY n.n_name""",
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join with two broadcastable dims and a
    same-nation co-location condition."""
    e = engine_for(spark, sf_dir)
    c, o, l = e.table("customer"), e.table("orders"), e.table("lineitem")
    s, n, r = e.table("supplier"), e.table("nation"), e.table("region")
    o = o.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    r = r.filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(*_qsum_parts(revenue, "revenue"))
        .select("n_name", _qsum_value("revenue"))
    )


@query(
    "q6_forecast_revenue",
    f"""SELECT {_qsum_sql("l_extendedprice * l_discount", "revenue")},
              count(*) AS n_rows
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         AND l_discount BETWEEN 0.03 AND 0.07
         AND l_quantity < 24.0""",
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan → filter → grand-total agg. The whole
    predicate reaches the parquet scan (PushedFilters on date, discount,
    quantity); no shuffle beyond the single-row final agg."""
    e = engine_for(spark, sf_dir)
    l = e.table("lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return l.agg(
        *_qsum_parts(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count("*").alias("n_rows"),
    ).select(_qsum_value("revenue"), "n_rows")


@query(
    "q10_returned_items",
    f"""SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
              {_qsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
              c.c_acctbal AS c_acctbal, n.n_name AS n_name
       FROM customer c, orders o, lineitem l, nation n
       WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
         AND l.l_returnflag = 'R' AND c.c_nationkey = n.n_nationkey
         AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
       GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
       ORDER BY revenue DESC, c_custkey
       LIMIT 20""",
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: selective fact filters → join → agg → top-20
    (TakeOrderedAndProject, never a global sort)."""
    e = engine_for(spark, sf_dir)
    c, o, n = e.table("customer"), e.table("orders"), e.table("nation")
    l = e.table("lineitem").filter(F.col("l_returnflag") == "R")
    o = o.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(*_qsum_parts(revenue, "revenue"))
        .select("c_custkey", "c_name", _qsum_value("revenue"), "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "rollup_pricing_subtotals",
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
              sum(l_quantity) AS sum_qty
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def rollup_pricing_subtotals(spark, sf_dir):
    """GROUP BY ROLLUP — absent in the reference (SURVEY §2.4 'Absent:
    grouping sets / cube / rollup'), free on Spark: hierarchical subtotals
    (flag+status, per-flag, grand total) in ONE partial+final aggregate
    pass — Expand feeds the same hash aggregate, no extra scan per level."""
    e = engine_for(spark, sf_dir)
    return (
        e.table("lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"), F.sum("l_quantity").alias("sum_qty"))
    )


@query(
    "grouping_sets_pricing",
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
              sum(l_quantity) AS sum_qty
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""",
)
def grouping_sets_pricing(spark, sf_dir):
    """Explicit GROUPING SETS — arbitrary grouping combinations (here the
    two single-column totals, neither the full cross nor the grand total)
    in one Expand-fed aggregate pass; the generalization ROLLUP/CUBE are
    sugar for (absent in the reference, SURVEY §2.4)."""
    e = engine_for(spark, sf_dir)
    return (
        e.table("lineitem")
        .groupingSets(
            [["l_returnflag"], ["l_linestatus"]],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(F.count("*").alias("cnt"), F.sum("l_quantity").alias("sum_qty"))
    )


@query(
    "cube_event_totals",
    """SELECT event_type, CAST(year(ts) AS INT) AS yr, count(*) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS sum_uid
       FROM events GROUP BY CUBE (event_type, year(ts))""",
)
def cube_event_totals(spark, sf_dir):
    """GROUP BY CUBE — all 2^k grouping combinations (type×year, per-type,
    per-year, grand total) in ONE partial+final aggregate pass (same
    Expand-fed hash aggregate as ROLLUP; absent in the reference,
    SURVEY §2.4)."""
    e = engine_for(spark, sf_dir)
    return (
        e.table("events")
        .cube("event_type", F.year("ts").cast("int").alias("yr"))
        .agg(F.count("*").alias("cnt"), F.sum("user_id").alias("sum_uid"))
    )


@query(
    "asof_join_events",
    """WITH p AS (
         SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
       ), s AS (
         SELECT user_id, ts, max(event_id) AS signup_id
         FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
       )
       SELECT p.event_id AS purchase_id, p.user_id AS user_id,
              CAST(floor(epoch(p.ts)) AS BIGINT) AS p_epoch,
              s.signup_id AS signup_id
       FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts""",
)
def asof_join_events(spark, sf_dir):
    """As-of (temporal) join: each purchase gets the latest prior-or-equal
    signup per user — the union+keyed-window plan (plans/asof.py, one
    shuffle); the oracle is DuckDB's native ASOF LEFT JOIN."""
    from .plans.asof import as_of_join

    e = engine_for(spark, sf_dir)
    ev = e.table("events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_id"))
    )
    out = as_of_join(p, s, "user_id", "ts", "ts")
    return out.select(
        "purchase_id", "user_id", _epoch("ts").alias("p_epoch"), "signup_id"
    )


@query(
    "sample_deterministic_10pct",
    """SELECT doc_id FROM documents
       WHERE ('0x' || substring(md5('s0' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
             < CAST(0.1 * 4503599627370496 AS BIGINT)""",
)
def sample_deterministic_10pct(spark, sf_dir):
    """Reproducible 10% corpus sample by hash of id (pipeline/text.py
    hash_sample) — the same 10% on every run, engine, and partitioning,
    unlike df.sample()."""
    from .pipeline.text import hash_sample

    e = engine_for(spark, sf_dir)
    return hash_sample(e.table("documents"), "doc_id", 0.1).select("doc_id")


@query(
    "sketch_kmv_distinct_users",
    """WITH h AS (
         SELECT DISTINCT ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS hv
         FROM events
       ), mins AS (
         SELECT hv FROM h ORDER BY hv LIMIT 64
       ), s AS (
         SELECT count(*) AS cnt, max(hv) AS mx FROM mins
       )
       SELECT CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
                   ELSE 63.0 / (CAST(mx AS DOUBLE) / 4503599627370496.0)
              END AS est_distinct
       FROM s""",
)
def sketch_kmv_distinct_users(spark, sf_dir):
    """KMV distinct-count sketch over events.user_id — engine-reproducible
    alternative to HLL (see pipeline/sketch.py); the oracle recomputes the
    identical estimate."""
    from .pipeline.sketch import kmv_distinct_count

    e = engine_for(spark, sf_dir)
    return kmv_distinct_count(e.table("events"), "user_id", k=64)


@query(
    "sketch_cms_heavy_tokens",
    """WITH toks AS (
         SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS v
         FROM documents WHERE length(trim(text)) > 0
       ), ds AS (
         SELECT unnest(generate_series(0, 3)) AS d
       ), pairs AS (
         SELECT v, d,
                ('0x' || substring(md5('cms' || CAST(d AS VARCHAR) || ':' || v), 1, 13))::BIGINT % 64 AS b
         FROM toks CROSS JOIN ds
       ), sketch AS (
         SELECT d, b, count(*) AS cnt FROM pairs GROUP BY d, b
       ), total AS (
         SELECT sum(cnt) AS tot FROM sketch WHERE d = 0
       ), probe AS (
         SELECT c.v, ds.d,
                ('0x' || substring(md5('cms' || CAST(ds.d AS VARCHAR) || ':' || c.v), 1, 13))::BIGINT % 64 AS b
         FROM (SELECT DISTINCT v FROM toks) c CROSS JOIN ds
       ), est AS (
         SELECT p.v, min(s.cnt) AS est_count
         FROM probe p JOIN sketch s ON s.d = p.d AND s.b = p.b
         GROUP BY p.v
       )
       SELECT e.v AS token, CAST(e.est_count AS BIGINT) AS est_count
       FROM est e, total t WHERE e.est_count * 40 >= t.tot""",
)
def sketch_cms_heavy_tokens(spark, sf_dir):
    """Count-Min-sketch heavy hitters over the document token stream
    (pipeline/sketch.py cms_heavy_hitters): tokens with estimated frequency
    ≥ 1/40 of the corpus. Deterministic md5 hash family → the oracle
    rebuilds the identical d×w counter table and min-estimates in SQL."""
    from .pipeline.sketch import cms_heavy_hitters

    e = engine_for(spark, sf_dir)
    toks = (
        e.table("documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"))
    )
    return cms_heavy_hitters(toks, "tok", width=64, depth=4, frac_den=40).select(
        F.col("v").alias("token"), "est_count"
    )


@query(
    "rollup_hourly_events",
    f"""SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_epoch,
              event_type,
              count(*) AS n_events,
              {_qsum_sql("value", "sum_value")},
              count(DISTINCT user_id) AS n_users
       FROM events GROUP BY date_trunc('hour', ts), event_type""",
)
def rollup_hourly_events(spark, sf_dir):
    """Hypertable-style time-bucket rollup: continuous aggregate per
    (hour bucket, event type). One partial+final agg; at scale this is the
    materialized rollup you'd maintain incrementally in foreachBatch."""
    e = engine_for(spark, sf_dir)
    ev = e.table("events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("__bucket"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            *_qsum_parts(F.col("value"), "sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            _epoch(F.col("__bucket")).alias("bucket_epoch"),
            "event_type", "n_events", _qsum_value("sum_value"), "n_users",
        )
    )


@query(
    "range_join_value_bands",
    """SELECT e.event_id AS event_id, b.band AS band
       FROM events e JOIN (
         SELECT * FROM (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0),
                               ('high', 150.0, 1000000.0)) t(band, lo, hi)
       ) b ON e.value >= b.lo AND e.value < b.hi
       WHERE e.event_type = 'purchase'""",
)
def range_join_value_bands(spark, sf_dir):
    """Range (interval) join: point-in-interval via broadcast of the small
    interval side — Catalyst executes BroadcastNestedLoopJoin, which is the
    right plan when one side is tiny. (For two LARGE sides, bucketize the
    ranges and equi-join on bucket first; the small-dim case is the common
    telemetry shape.)"""
    e = engine_for(spark, sf_dir)
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e6)],
        "band string, lo double, hi double",
    )
    ev = e.table("events").filter(F.col("event_type") == "purchase")
    return ev.join(
        F.broadcast(bands),
        (ev.value >= bands.lo) & (ev.value < bands.hi),
    ).select("event_id", "band")


@query(
    "q14_promo_effect",
    f"""SELECT 100.00 * {_qsum_sql_expr(
        "CASE WHEN p.p_type LIKE 'PROMO%' "
        "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")}
              / {_qsum_sql_expr("l.l_extendedprice * (1 - l.l_discount)")}
              AS promo_revenue
       FROM lineitem l, part p
       WHERE l.l_partkey = p.p_partkey
         AND l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
         AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""",
)
def q14_promo_effect(spark, sf_dir):
    """TPC-H Q14 shape: fact-dim join + conditional aggregation (CASE
    inside SUM). Part scales with the data, so no forced broadcast (AQE
    decides); quantized split-sums keep the ratio bit-identical to the
    oracle with no decimal in the plan."""
    e = engine_for(spark, sf_dir)
    l = e.table("lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = e.table("part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(*_qsum_parts(promo, "promo"), *_qsum_parts(rev, "rev"))
        .select(
            (F.lit(100.00) * _qsum_val_expr("promo") / _qsum_val_expr("rev"))
            .alias("promo_revenue")
        )
    )


@query(
    "q18_large_orders",
    """SELECT c.c_name AS c_name, c.c_custkey AS c_custkey,
              o.o_orderkey AS o_orderkey,
              CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS odate_epoch,
              o.o_totalprice AS o_totalprice,
              sum(l.l_quantity) AS sum_qty
       FROM customer c, orders o, lineitem l
       WHERE o.o_orderkey IN (
               SELECT l_orderkey FROM lineitem
               GROUP BY l_orderkey HAVING sum(l_quantity) > 150.0)
         AND c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
       GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
       ORDER BY o_totalprice DESC, o_orderkey
       LIMIT 100""",
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: aggregate → threshold filter → semi-join back into
    the fact tables → re-aggregate → top-k. The semi join keeps only
    qualifying orderkeys flowing into the 3-way join; top-100 runs as
    TakeOrderedAndProject.

    Both orderkey attachments carry shuffle_hash hints — the r7 100×
    scale probe (tools/scaling_probe.py --tpch) caught two cliffs the
    sf0.1 plan audit could not:

    * unhinted, the static planner BROADCAST the orders fact table (its
      column-pruned size estimate — 4 of 9 columns of a zstd scan —
      fell under the 10 MB threshold at every probe scale): a
      driver-built data-sized hash relation, measured 4.2 s → 108.7 s
      from 10× to 100× (26× for 10× data);
    * with orders shuffle-hashed but the semi join left as sort-merge,
      the 60M-row lineitem SORT dominated: 61.5 s at 100×.

    Shuffle-hash on both builds per-partition hash tables from the
    qualifying-orderkey set and from orders, reuses one orderkey
    partitioning of lineitem across semi join and join, and sorts
    nothing but the final top-100: 27.8 s at 100×, back on the
    q1/q7/q8 ~linear band (and 1.9 → 1.4 s at sf0.1).  The customer
    attachment stays broadcast: a real dimension."""
    e = engine_for(spark, sf_dir)
    c, o, l = e.table("customer"), e.table("orders"), e.table("lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150.0)
        .select("l_orderkey")
    )
    return (
        l.join(big.hint("shuffle_hash"), "l_orderkey", "left_semi")
        .join(o.hint("shuffle_hash"), F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey",
            _epoch("o_orderdate").alias("odate_epoch"),
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "topk_per_group",
    """SELECT c_nationkey, c_custkey, c_acctbal, rk FROM (
         SELECT c_nationkey, c_custkey, c_acctbal,
                row_number() OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal DESC, c_custkey) AS rk
         FROM customer
       ) WHERE rk <= 3""",
)
def topk_per_group(spark, sf_dir):
    """Top-k per group via ranking window — beyond the reference (it has no
    analytic functions, SURVEY §2.5); a one-shuffle pattern at scale."""
    from pyspark.sql import Window as W

    e = engine_for(spark, sf_dir)
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        e.table("customer")
        .select(
            "c_nationkey", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= 3)
    )


@query(
    "events_agg_by_type",
    """SELECT event_type, count(*) AS cnt, CAST(sum(user_id) AS BIGINT) AS sum_uid,
              CAST(floor(epoch(min(ts))) AS BIGINT) AS min_ts_epoch,
              CAST(floor(epoch(max(ts))) AS BIGINT) AS max_ts_epoch
       FROM events GROUP BY event_type""",
)
def events_agg_by_type(spark, sf_dir):
    e = engine_for(spark, sf_dir)
    return (
        e.table("events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("user_id").alias("sum_uid"),
            _epoch(F.min("ts")).alias("min_ts_epoch"),
            _epoch(F.max("ts")).alias("max_ts_epoch"),
        )
    )


@query(
    "point_lookup",
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
       FROM customer WHERE c_custkey = 42""",
)
def point_lookup(spark, sf_dir):
    """find-by-@Id analogue (S2): equality predicate pushed to the parquet
    scan replaces the reference's index probe."""
    e = engine_for(spark, sf_dir)
    return e.table("customer").filter(F.col("c_custkey") == 42)


@query(
    "q4_order_priority",
    """SELECT o.o_orderpriority AS o_orderpriority, count(*) AS order_count
       FROM orders o
       WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
         AND o.o_orderdate < TIMESTAMP '1997-01-01'
         AND EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                       AND l.l_shipdate > o.o_orderdate)
       GROUP BY o.o_orderpriority""",
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS correlated subquery executed as a LEFT SEMI
    join (equi key + non-equi residual). The reference has no semi joins at
    all (SURVEY §2.3 'Absent'); Catalyst plans the equi part as the shuffle
    key and evaluates the date comparison as a join residual, so no
    cartesian anything at 100 TB."""
    e = engine_for(spark, sf_dir)
    o = e.table("orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = e.table("lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q12_priority_lines",
    """SELECT l.l_returnflag AS l_returnflag,
              CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders o, lineitem l
       WHERE o.o_orderkey = l.l_orderkey
         AND l.l_shipdate >= TIMESTAMP '1996-01-01'
         AND l.l_shipdate < TIMESTAMP '1997-01-01'
       GROUP BY l.l_returnflag""",
)
def q12_priority_lines(spark, sf_dir):
    """TPC-H Q12 shape: conditional CASE counters inside one aggregation
    pass (no per-branch re-scan). Both counters ride the same shuffle."""
    e = engine_for(spark, sf_dir)
    o = e.table("orders").select("o_orderkey", "o_orderpriority")
    l = e.table("lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q13_customer_distribution",
    """SELECT c_count, count(*) AS custdist
       FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
             FROM customer c LEFT OUTER JOIN orders o
               ON c.c_custkey = o.o_custkey
              AND o.o_orderpriority <> '4-NOT SPECIFIED'
             GROUP BY c.c_custkey)
       GROUP BY c_count""",
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: LEFT OUTER join (absent in the reference — all its
    joins are inner, SURVEY §2.3) with an ON-clause filter on the null-side,
    then a two-level aggregation (orders-per-customer → distribution).
    The second groupBy keys on the tiny c_count domain; partial aggregation
    collapses it map-side."""
    e = engine_for(spark, sf_dir)
    c = e.table("customer").select("c_custkey")
    o = e.table("orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "4-NOT SPECIFIED"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q16_supplier_counts",
    """SELECT p.p_brand AS p_brand, p.p_size AS p_size,
              count(DISTINCT l.l_suppkey) AS supplier_cnt
       FROM part p, lineitem l
       WHERE p.p_partkey = l.l_partkey
         AND p.p_brand <> 'Brand#13'
         AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
         AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 3000.0)
       GROUP BY p.p_brand, p.p_size""",
)
def q16_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape (partsupp adapted to lineitem): NOT IN subquery as a
    LEFT ANTI join (s_suppkey is non-null so anti-join == NOT IN), dimension
    filters, COUNT(DISTINCT). The excluded-supplier set is a small filtered
    fraction (AQE broadcasts the anti join when it fits — no forced hint,
    supplier scales with the data); distinct aggregation is two-phase
    (partial distinct map-side)."""
    e = engine_for(spark, sf_dir)
    p = e.table("part").filter(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    l = e.table("lineitem").select("l_partkey", "l_suppkey")
    bad = e.table("supplier").filter(F.col("s_acctbal") < 3000.0).select("s_suppkey")
    return (
        l.join(bad, l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    f"""SELECT {_qsum_sql_expr("l.l_extendedprice")} / 7.0 AS avg_yearly
       FROM lineitem l
       JOIN part p ON p.p_partkey = l.l_partkey
       JOIN (SELECT l_partkey, sum(l_quantity) / count(*) AS aq
             FROM lineitem GROUP BY l_partkey) a
         ON a.l_partkey = l.l_partkey
       WHERE p.p_brand = 'Brand#12' AND l.l_quantity < 0.2 * a.aq""",
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate + self-join — the standard
    unnesting Catalyst would do for a real correlated subquery. Quantities
    are integral-valued doubles so sum/count is bit-deterministic; the
    money sum goes through the quantized split-sum."""
    e = engine_for(spark, sf_dir)
    l = e.table("lineitem")
    p = e.table("part").filter(F.col("p_brand") == "Brand#12").select("p_partkey")
    # brand filter FIRST: per-part averages are unaffected by which parts
    # survive, so only the filtered parts' lineitems (~1/25) ever reach the
    # partkey shuffle — the oracle's subquery over all parts is equivalent
    lp = l.join(p, l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_q = lp.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.sum("l_quantity") / F.count("*")).alias("aq")
    )
    return (
        lp.join(avg_q, F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("aq"))
        .agg(*_qsum_parts(F.col("l_extendedprice"), "s"))
        .select((_qsum_val_expr("s") / 7.0).alias("avg_yearly"))
    )


@query(
    "q19_disjunctive_revenue",
    f"""SELECT {_qsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
       FROM lineitem l, part p
       WHERE p.p_partkey = l.l_partkey
         AND ((p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity >= 1.0 AND l.l_quantity <= 11.0)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity >= 10.0 AND l.l_quantity <= 20.0)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity >= 20.0 AND l.l_quantity <= 30.0))""",
)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive bands across BOTH join
    sides. The reference bails out of every optimized path on OR (SURVEY
    §2.3 J5); Catalyst instead keeps the equi-join and evaluates the OR as
    a residual, and infers single-side implied filters. No forced
    broadcast: part scales with the data, AQE decides."""
    e = engine_for(spark, sf_dir)
    l = e.table("lineitem")
    p = e.table("part")
    band = (
        (
            (p.p_brand == "Brand#12")
            & p.p_size.between(1, 5)
            & (l.l_quantity >= 1.0)
            & (l.l_quantity <= 11.0)
        )
        | (
            (p.p_brand == "Brand#23")
            & p.p_size.between(1, 10)
            & (l.l_quantity >= 10.0)
            & (l.l_quantity <= 20.0)
        )
        | (
            (p.p_brand == "Brand#34")
            & p.p_size.between(1, 15)
            & (l.l_quantity >= 20.0)
            & (l.l_quantity <= 30.0)
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, (l.l_partkey == p.p_partkey) & band)
        .agg(*_qsum_parts(rev, "revenue"))
        .select(_qsum_value("revenue"))
    )


@query(
    "q22_idle_customers",
    f"""SELECT c.c_nationkey AS c_nationkey, count(*) AS numcust,
              {_qsum_sql("c.c_acctbal", "totacctbal")}
       FROM customer c
       WHERE c.c_acctbal > (SELECT {_qsum_sql_expr("c2.c_acctbal")}
                                   / count(*)
                            FROM customer c2 WHERE c2.c_acctbal > 0.0)
         AND NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey)
       GROUP BY c.c_nationkey""",
)
def q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: scalar aggregate subquery as the filter threshold
    (1-row broadcast cross join — no shuffle) + NOT EXISTS as LEFT ANTI
    join. The average is computed as split-sum/count so the threshold double
    is bit-identical across engines."""
    e = engine_for(spark, sf_dir)
    c = e.table("customer")
    o = e.table("orders").select("o_custkey")
    thr = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(*_qsum_parts(F.col("c_acctbal"), "t"), F.count("*").alias("n"))
        .select((_qsum_val_expr("t") / F.col("n")).alias("__thr"))
    )
    return (
        c.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("__thr"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            *_qsum_parts(F.col("c_acctbal"), "totacctbal"),
        )
        .select("c_nationkey", "numcust", _qsum_value("totacctbal"))
    )


@query(
    "q7_volume_shipping",
    f"""SELECT supp_nation, cust_nation, l_year,
               {_qsum_sql("volume", "revenue")}
       FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                    year(l.l_shipdate) AS l_year,
                    l.l_extendedprice * (1 - l.l_discount) AS volume
             FROM supplier s, lineitem l, orders o, customer c,
                  nation n1, nation n2
             WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
               AND c.c_custkey = o.o_custkey
               AND s.s_nationkey = n1.n_nationkey
               AND c.c_nationkey = n2.n_nationkey
               AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
                 OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')))
       GROUP BY supp_nation, cust_nation, l_year""",
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: 6-way join with the nation dimension joined TWICE
    under different roles, a cross-side OR pairing filter, and a derived
    year grouping. Dims broadcast; only the orders⋈lineitem equi-join
    shuffles. The reference caps out at left-deep inner equi-joins — the
    dual-role dimension is exactly where its alias-free planner would
    break."""
    e = engine_for(spark, sf_dir)
    names = ("NATION_3", "NATION_7")
    # the OR pairing filter references BOTH fact sides, so it cannot push
    # below the lineitem⋈orders shuffle — but its IMPLIED single-side
    # constraints (each nation ∈ the pair) can: pre-reduce both fact inputs
    # via their nation-filtered dimensions BEFORE the fact-fact shuffle.
    # Catalyst does not factor disjunctions of conjunctions across sides,
    # so we plant the residual-implied filters by construction.
    n1 = e.table("nation").filter(F.col("n_name").isin(*names)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = e.table("nation").filter(F.col("n_name").isin(*names)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    s2 = (
        e.table("supplier").select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select("s_suppkey", "supp_nation")
    )
    c2 = (
        e.table("customer").select("c_custkey", "c_nationkey")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .select("c_custkey", "cust_nation")
    )
    # no forced broadcast on s2/c2: supplier and customer SCALE WITH the
    # data (unlike nation), so a hint that is safe at sf0.1 would OOM a
    # 1000-executor cluster.  But UNHINTED, the static planner's leaf
    # estimates ran backwards here — it broadcast the column-pruned
    # LINEITEM as the build side against ~2/25 of supplier (measured;
    # the inflated join-output estimate on the dim side did it).  The
    # shuffle_hash hint is correct at BOTH scales: each side partitions
    # on the key and only the (small) filtered-dim partitions build hash
    # tables — no data-sized broadcast ever, and measured faster than
    # the fact-broadcast plan at sf0.1 (0.53 vs 0.82 s on this shape).
    l2 = e.table("lineitem").join(
        s2.hint("shuffle_hash"), F.col("l_suppkey") == F.col("s_suppkey")
    )
    o2 = e.table("orders").select("o_orderkey", "o_custkey").join(
        c2.hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey")
    )
    pair = (
        (F.col("supp_nation") == names[0]) & (F.col("cust_nation") == names[1])
    ) | ((F.col("supp_nation") == names[1]) & (F.col("cust_nation") == names[0]))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        # the orderkey join stays UNHINTED: both sides are fact-sized, so
        # sort-merge (spillable) is the right 100 TB strategy, and a
        # measured shuffle_hash attempt here was slower at sf0.1 too
        l2.join(o2, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(*_qsum_parts(vol, "revenue"))
        .select("supp_nation", "cust_nation", "l_year", _qsum_value("revenue"))
    )


@query(
    "q15_top_supplier",
    f"""WITH rev AS (
         SELECT l.l_suppkey AS s_key,
                {_qsum_sql("l.l_extendedprice * (1 - l.l_discount)",
                           "total_revenue")}
         FROM lineitem l
         WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
           AND l.l_shipdate < TIMESTAMP '1996-04-01'
         GROUP BY l.l_suppkey)
       SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name,
              rev.total_revenue AS total_revenue
       FROM supplier s JOIN rev ON s.s_suppkey = rev.s_key
       WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)""",
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: argmax-by-aggregate — revenue per supplier, then
    keep the supplier(s) hitting the maximum (scalar subquery over the SAME
    aggregate). The per-supplier aggregate is computed once and reused for
    both the max and the equality filter; the 1-row max broadcasts. The
    equality on doubles is safe because both sides recombine the identical
    quantized split-sum."""
    e = engine_for(spark, sf_dir)
    l = e.table("lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = (
        l.groupBy(F.col("l_suppkey").alias("s_key"))
        .agg(*_qsum_parts(F.col("l_extendedprice") * (1 - F.col("l_discount")), "r"))
        .select("s_key", _qsum_value("r").alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(e.table("supplier"), F.col("s_key") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q8_market_share",
    f"""SELECT o_year,
              {_qsum_sql_expr("nation_volume")} / {_qsum_sql_expr("volume")}
                AS mkt_share
       FROM (SELECT year(o.o_orderdate) AS o_year,
                    l.l_extendedprice * (1 - l.l_discount) AS volume,
                    CASE WHEN n2.n_name = 'NATION_5'
                         THEN l.l_extendedprice * (1 - l.l_discount)
                         ELSE 0.0 END AS nation_volume
             FROM part p, supplier s, lineitem l, orders o, customer c,
                  nation n1, nation n2, region r
             WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
               AND l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
               AND c.c_nationkey = n1.n_nationkey
               AND n1.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
               AND s.s_nationkey = n2.n_nationkey
               AND p.p_type = 'PROMO')
       GROUP BY o_year""",
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: national market share — an 8-way join (nation twice,
    region restricting the customer side) feeding a conditional-ratio
    aggregate (target-nation volume / total volume per year). Both sums
    ride one aggregation pass as quantized split-sums; nation/region
    broadcast (constant-size), scaling dims rely on AQE."""
    e = engine_for(spark, sf_dir)
    l = e.table("lineitem")
    p = e.table("part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    s = e.table("supplier").select("s_suppkey", "s_nationkey")
    o = e.table("orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = e.table("customer").select("c_custkey", "c_nationkey")
    r = e.table("region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    n1 = e.table("nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = e.table("nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    return (
        l.join(p, F.col("l_partkey") == p.p_partkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(*_qsum_parts(nat, "nv"), *_qsum_parts(vol, "v"))
        .select(
            "o_year",
            (_qsum_val_expr("nv") / _qsum_val_expr("v")).alias("mkt_share"),
        )
    )


@query(
    "q11_important_parts",
    f"""WITH lv AS (
         SELECT l.l_partkey AS pk,
                {_qsum_sql("l.l_extendedprice", "value")}
         FROM lineitem l
         WHERE l.l_suppkey IN (
             SELECT s_suppkey FROM supplier WHERE s_nationkey = 3)
         GROUP BY l.l_partkey)
       SELECT pk AS l_partkey, value
       FROM lv
       WHERE value > (SELECT {_qsum_sql_expr("l2.l_extendedprice")} * 0.001
                      FROM lineitem l2
                      WHERE l2.l_suppkey IN (
                          SELECT s_suppkey FROM supplier
                          WHERE s_nationkey = 3))""",
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (partsupp adapted to lineitem): per-part value
    restricted to one nation's suppliers, kept only where it exceeds a
    FRACTION OF THE GLOBAL TOTAL (scalar aggregate subquery). The global
    total is one extra pass over the same filtered fact; its 1-row result
    broadcasts into the filter. Threshold comparison is engine-safe:
    both sides recombine quantized split-sums."""
    e = engine_for(spark, sf_dir)
    sup = (
        e.table("supplier").filter(F.col("s_nationkey") == 3).select("s_suppkey")
    )
    lf = e.table("lineitem").join(
        sup, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    lv = (
        lf.groupBy(F.col("l_partkey"))
        .agg(*_qsum_parts(F.col("l_extendedprice"), "v"))
        .select("l_partkey", _qsum_value("v").alias("value"))
    )
    total = lf.agg(*_qsum_parts(F.col("l_extendedprice"), "t")).select(
        (_qsum_val_expr("t") * 0.001).alias("__thr")
    )
    return (
        lv.join(F.broadcast(total))
        .filter(F.col("value") > F.col("__thr"))
        .select("l_partkey", "value")
    )


@query(
    "q20_excess_shippers",
    """SELECT s.s_name AS s_name, s.s_acctbal AS s_acctbal
       FROM supplier s
       WHERE s.s_suppkey IN (
           SELECT l.l_suppkey FROM lineitem l
           WHERE l.l_partkey IN (
               SELECT p_partkey FROM part WHERE p_type = 'PROMO')
             AND l.l_shipdate >= TIMESTAMP '1996-01-01'
             AND l.l_shipdate < TIMESTAMP '1997-01-01'
           GROUP BY l.l_suppkey, l.l_partkey
           HAVING sum(l.l_quantity) > 60.0)""",
)
def q20_excess_shippers(spark, sf_dir):
    """TPC-H Q20 shape (partsupp adapted to lineitem): a nested semi-join
    chain — parts of one type → per-(supplier, part) shipped quantity over
    a year → threshold → DISTINCT suppliers → semi-join into supplier.
    Each level reduces the next level's input; the final semi join carries
    only qualifying supplier keys."""
    e = engine_for(spark, sf_dir)
    p = e.table("part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    l = e.table("lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    heavy = (
        l.join(p, F.col("l_partkey") == p.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 60.0)
        .select("l_suppkey")
        .distinct()
    )
    s = e.table("supplier")
    return s.join(heavy, s.s_suppkey == F.col("l_suppkey"), "left_semi").select(
        "s_name", "s_acctbal"
    )


@query(
    "q2_min_cost_supplier",
    """WITH pm AS (
         SELECT l.l_partkey AS pk, min(l.l_extendedprice / l.l_quantity) AS mn
         FROM lineitem l GROUP BY l.l_partkey
       )
       SELECT p.p_partkey AS p_partkey, p.p_name AS p_name,
              min(s.s_name) AS s_name, pm.mn AS unit_price
       FROM lineitem l
       JOIN pm ON l.l_partkey = pm.pk
               AND l.l_extendedprice / l.l_quantity = pm.mn
       JOIN part p ON p.p_partkey = l.l_partkey
       JOIN supplier s ON s.s_suppkey = l.l_suppkey
       WHERE p.p_size = 15
       GROUP BY p.p_partkey, p.p_name, pm.mn""",
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (partsupp adapted to lineitem unit prices): per-part
    ARGMIN — the supplier offering each part's minimum unit price. The
    min is computed once per part (one combiner-friendly shuffle), the
    argmin rows come back via an equality self-join on (part, min), and
    ties break deterministically (min supplier name). The per-row unit
    price double is deterministic, so the equality is engine-safe."""
    e = engine_for(spark, sf_dir)
    l = e.table("lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
    )
    pm = l.groupBy(F.col("l_partkey").alias("pk")).agg(F.min("unit").alias("mn"))
    p = e.table("part").filter(F.col("p_size") == 15).select("p_partkey", "p_name")
    s = e.table("supplier").select("s_suppkey", "s_name")
    return (
        l.join(pm, (l.l_partkey == F.col("pk")) & (F.col("unit") == F.col("mn")))
        .join(p, F.col("l_partkey") == p.p_partkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("p_partkey", "p_name", "mn")
        .agg(F.min("s_name").alias("s_name"))
        .select("p_partkey", "p_name", "s_name", F.col("mn").alias("unit_price"))
    )


@query(
    "q9_product_profit",
    f"""SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
               {_qsum_sql(
                   "l.l_extendedprice * (1 - l.l_discount)"
                   " - p.p_retailprice * l.l_quantity",
                   "sum_profit",
               )}
       FROM lineitem l, part p, supplier s, orders o, nation n
       WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
         AND o.o_orderkey = l.l_orderkey AND s.s_nationkey = n.n_nationkey
         AND p.p_name LIKE '%widget%'
       GROUP BY n.n_name, year(o.o_orderdate)""",
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (partsupp adapted: the driver testdata carries no
    ps_supplycost, so unit cost = p_retailprice): profit by nation x year
    through a 5-way join with a substring filter on the part dimension.
    The p_name filter prunes part BEFORE it reaches the fact join, so the
    lineitem semi-reduction happens on the small side of the first
    shuffle; nation broadcasts (constant cardinality); the money sum uses
    the quantized split-sum, exact under any partial-agg ordering."""
    e = engine_for(spark, sf_dir)
    p = (
        e.table("part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey", "p_retailprice")
    )
    s = e.table("supplier").select("s_suppkey", "s_nationkey")
    n = e.table("nation").select("n_nationkey", "n_name")
    o = e.table("orders").select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    l = e.table("lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    g = (
        l.join(p, F.col("l_partkey") == p.p_partkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(*_qsum_parts(profit, "sum_profit"))
    )
    return g.select("nation", "o_year", _qsum_value("sum_profit"))


@query(
    "q21_waiting_suppliers",
    """WITH flagged AS (
         SELECT l.l_orderkey AS ok, l.l_suppkey AS sk,
                (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS late
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderstatus = 'F'
       )
       SELECT s.s_name AS s_name, count(*) AS numwait
       FROM flagged l1
       JOIN supplier s ON s.s_suppkey = l1.sk
       WHERE l1.late
         AND EXISTS (SELECT 1 FROM flagged l2
                     WHERE l2.ok = l1.ok AND l2.sk <> l1.sk)
         AND NOT EXISTS (SELECT 1 FROM flagged l3
                         WHERE l3.ok = l1.ok AND l3.sk <> l1.sk AND l3.late)
       GROUP BY s.s_name
       ORDER BY numwait DESC, s_name
       LIMIT 100""",
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (receipt/commit dates adapted: 'late' =
    l_shipdate > o_orderdate + 60 days on finished orders): suppliers who
    were the SOLE late supplier on a multi-supplier order. The textbook
    plan is a semi-join plus an anti-join of lineitem against itself —
    two extra fact-fact shuffles. Both quantifiers collapse into one
    per-order aggregate: EXISTS(other supplier) == distinct suppliers >= 2,
    NOT EXISTS(other LATE supplier) == distinct late suppliers == 1 (l1
    itself is late). One groupBy(orderkey) + one join back — the join and
    the aggregate share the orderkey partitioning, so AQE reuses the
    exchange instead of reshuffling. Top-100 is TakeOrderedAndProject.
    The reference stops at inner equi-joins (SURVEY §2.3: no semi/anti
    syntax exists); this is the Spark-native expression of that gap."""
    e = engine_for(spark, sf_dir)
    o = (
        e.table("orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = e.table("lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    flagged = l.join(o, F.col("l_orderkey") == o.o_orderkey).select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_suppkey").alias("sk"),
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    # single pass over the fact join: collapse to (order, supplier,
    # late-row count) first, then per-order counts PLUS the identity and
    # late-row count of the sole late supplier (well-defined exactly when
    # n_late_supp == 1) — so no row-level join back into flagged is ever
    # needed, and each aggregate shuffles strictly fewer rows than the
    # one before. Two countDistinct's on one groupBy would instead plan
    # as an Expand AND still need the row-level re-join.
    per_os = flagged.groupBy("ok", "sk").agg(
        F.sum(F.col("late").cast("long")).alias("c_late")
    )
    is_late = F.col("c_late") > 0
    per_order = per_os.groupBy("ok").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(is_late.cast("long")).alias("n_late_supp"),
        F.max(F.when(is_late, F.col("sk"))).alias("late_sk"),
        F.max(F.when(is_late, F.col("c_late"))).alias("late_cnt"),
    )
    qualifying = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    )
    s = e.table("supplier").select("s_suppkey", "s_name")
    return (
        qualifying.join(s, F.col("late_sk") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("late_cnt").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# =====================================================================
# Training-data pipeline operators (north-star extensions)
# =====================================================================

@query(
    "dedup_exact",
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
       FROM documents GROUP BY md5(text)""",
)
def dedup_exact(spark, sf_dir):
    from .pipeline.dedup import exact_dedup

    e = engine_for(spark, sf_dir)
    return exact_dedup(e.table("documents"))


@query(
    "text_fingerprint",
    """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
       FROM documents""",
)
def text_fingerprint(spark, sf_dir):
    from .pipeline.text import fingerprint

    e = engine_for(spark, sf_dir)
    return e.table("documents").select("doc_id", fingerprint(F.col("text")).alias("fp"))


@query(
    "text_token_count",
    """SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
       FROM documents""",
)
def text_token_count(spark, sf_dir):
    from .pipeline.text import token_count

    e = engine_for(spark, sf_dir)
    return e.table("documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )


@query(
    "text_quality",
    """SELECT doc_id,
              length(text) AS n_chars_calc,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
              CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                / CAST(CASE WHEN length(text)=0 THEN 1 ELSE length(text) END AS DOUBLE) AS alpha_ratio,
              CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                / CAST(CASE WHEN length(text)=0 THEN 1 ELSE length(text) END AS DOUBLE) AS digit_ratio,
              CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
                / CAST(CASE WHEN length(text)=0 THEN 1 ELSE length(text) END AS DOUBLE) AS space_ratio,
              CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
                / CAST(CASE WHEN length(text)=0 THEN 1 ELSE length(text) END AS DOUBLE) AS punct_ratio,
              CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                   x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], lower(x)))) AS DOUBLE)
                / CAST(CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) = 0
                            THEN 1
                            ELSE (CASE WHEN length(trim(text)) = 0 THEN 0
                                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
                       END AS DOUBLE) AS stopword_ratio
       FROM documents""",
)
def text_quality(spark, sf_dir):
    from .pipeline import ensure_parallelism
    from .pipeline.text import quality_features

    e = engine_for(spark, sf_dir)
    return quality_features(ensure_parallelism(e.table("documents"))).select(
        "doc_id", "n_chars_calc", "n_tokens",
        "alpha_ratio", "digit_ratio", "space_ratio", "punct_ratio",
        "stopword_ratio",
    )


def _lang_score_sql(lang: str, words: tuple[str, ...]) -> str:
    terms = " + ".join(
        f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in words
    )
    return f"({terms})"


def _lang_id_oracle() -> str:
    """Argmax with ties → lexicographically largest lang code: identical to
    Spark's greatest(struct(score, lang)) comparison, spelled as a CASE
    chain from the largest code downward (DuckDB greatest can't take
    structs)."""
    from .pipeline.text import LANG_MARKERS

    scores = {
        lang: _lang_score_sql(lang, words) for lang, words in LANG_MARKERS.items()
    }
    ordered = sorted(scores, reverse=True)  # fr, es, en, de
    alls = ", ".join(scores[l] for l in ordered)
    branches = []
    for i, lang in enumerate(ordered[:-1]):
        conds = " AND ".join(
            f"{scores[lang]} >= {scores[other]}" for other in ordered[i + 1:]
        )
        branches.append(f"WHEN {conds} THEN '{lang}'")
    return f"""
      SELECT doc_id,
             CASE WHEN greatest({alls}) = 0 THEN 'und'
                  {' '.join(branches)}
                  ELSE '{ordered[-1]}' END AS lang_pred
      FROM documents
    """


@query("lang_id", None)  # oracle attached below (built from LANG_MARKERS)
def lang_id(spark, sf_dir):
    from .pipeline import ensure_parallelism
    from .pipeline.text import lang_id as _lang_id

    e = engine_for(spark, sf_dir)
    return _lang_id(ensure_parallelism(e.table("documents"))).select(
        "doc_id", "lang_pred"
    )


ORACLES["lang_id"] = _lang_id_oracle()


_COS_ORACLE = """
WITH q AS (
  SELECT generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS qv
  FROM embeddings WHERE vec_id = 0
), e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings WHERE vec_id <> 0
), acc AS (
  SELECT e.vec_id,
         sum(CAST(e.v * q.qv AS DECIMAL(38,14))) AS dot_d,
         sum(CAST(e.v * e.v AS DECIMAL(38,14))) AS n_e,
         sum(CAST(q.qv * q.qv AS DECIMAL(38,14))) AS n_q
  FROM e JOIN q USING (pos) GROUP BY e.vec_id
)
SELECT vec_id,
       CAST(dot_d AS DOUBLE) / (sqrt(CAST(n_e AS DOUBLE)) * sqrt(CAST(n_q AS DOUBLE))) AS cosine
FROM acc ORDER BY cosine DESC, vec_id LIMIT 10
"""


@query("sim_cosine_topk_exact", _COS_ORACLE)
def sim_cosine_topk_exact(spark, sf_dir):
    """Brute-force cosine top-10 vs the vec_id=0 embedding, decimal-exact
    accumulation (oracle-grade; see module docstring in pipeline/similarity)."""
    from .pipeline.similarity import cosine_topk_exact_decimal

    e = engine_for(spark, sf_dir)
    emb = e.table("embeddings")
    return cosine_topk_exact_decimal(
        emb.filter(F.col("vec_id") != 0), emb.filter(F.col("vec_id") == 0), k=10
    )


@query(
    "sim_cosine_topk",
    # Spark's aggregate() is a strict left fold over the array; DuckDB's
    # list_reduce is the same fold (its implicit first-element init differs
    # from Spark's 0.0 init only by a leading +0.0, which is an IEEE no-op),
    # so even the float-sum cosine is bit-reproducible across engines.
    """WITH v AS (
         SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         FROM embeddings
       ), q AS (
         SELECT e AS qe FROM v WHERE vec_id = 0
       ), s AS (
         SELECT v.vec_id,
                list_reduce([v.e[i] * q.qe[i] for i in generate_series(1, 64)],
                            (a, x) -> a + x)
                / (sqrt(list_reduce([v.e[i] * v.e[i] for i in generate_series(1, 64)],
                                    (a, x) -> a + x))
                   * sqrt(list_reduce([q.qe[i] * q.qe[i] for i in generate_series(1, 64)],
                                      (a, x) -> a + x))) AS cosine
         FROM v, q WHERE v.vec_id <> 0
       )
       SELECT vec_id, cosine FROM s ORDER BY cosine DESC, vec_id LIMIT 10""",
)
def sim_cosine_topk(spark, sf_dir):
    """The fast path: JVM zip_with/aggregate dot product, no Python, no
    decimals — what you'd run at 100 TB."""
    from .pipeline.similarity import cosine_topk_df

    e = engine_for(spark, sf_dir)
    emb = e.table("embeddings")
    # query vector as a 1-row broadcast (r11): no eager .first() — the
    # old driver collect was a whole blocking job per run
    return cosine_topk_df(
        emb.filter(F.col("vec_id") != 0),
        emb.filter(F.col("vec_id") == 0),
        k=10,
    )


def _kmeans_iter_cte(n: int, cin: str, src: str = "ve") -> str:
    """One unrolled Lloyd iteration as DuckDB CTEs (shared by the IVF and
    SemDeDup oracles): quantized assignment scores against centroid set
    ``{cin}``, then floor-quantized means, producing centroid set c{n}.
    Expects ``{src}`` (vec_id, pos, x) upstream — train-on-a-subset
    oracles (the streaming-ingest replay) pass a restricted source and
    then emit one extra iteration over the full table, whose a{n} is the
    all-vector assignment (the unused m/c CTEs stay unevaluated)."""
    return f"""qn{n} AS (
  SELECT cid, sum(CAST(floor(cval * cval * 1e10) AS BIGINT)) AS qn
  FROM {cin} GROUP BY cid
), s{n} AS (
  SELECT sv.vec_id, c.cid,
         sum(CAST(floor(sv.x * c.cval * 1e10) AS BIGINT)) AS qd
  FROM {src} sv JOIN {cin} c ON sv.pos = c.pos
  GROUP BY sv.vec_id, c.cid
), a{n} AS (
  SELECT vec_id, cid AS centroid FROM (
    SELECT s{n}.vec_id, s{n}.cid,
           row_number() OVER (PARTITION BY s{n}.vec_id
             ORDER BY CAST(s{n}.qd AS DOUBLE) / sqrt(CAST(qn{n}.qn AS DOUBLE)) DESC,
                      s{n}.cid DESC) AS rn
    FROM s{n} JOIN qn{n} USING (cid)
  ) WHERE rn = 1
), m{n} AS (
  SELECT a{n}.centroid AS cid, sv.pos,
         CAST(sum(CAST(floor(sv.x * 1e10) AS BIGINT)) AS DOUBLE)
           / count(*) / 1e10 AS cval
  FROM a{n} JOIN {src} sv USING (vec_id) GROUP BY a{n}.centroid, sv.pos
), c{n} AS (
  SELECT c.cid, c.pos, coalesce(m{n}.cval, c.cval) AS cval
  FROM {cin} c LEFT JOIN m{n} ON c.cid = m{n}.cid AND c.pos = m{n}.pos
)"""


def _ivf_exact_oracle(
    k: int = 10, nprobe: int = 4, n_centroids: int = 16, dim: int = 64
) -> str:
    """Fully-unrolled 2-iteration Lloyd k-means + probe + top-k, every
    reduction a floor-quantized BIGINT sum — recomputes the exact-math IVF
    entry bit for bit (float k-means is partition-order-dependent and
    stays rows-only; this variant exists to be oracle-checkable)."""

    one_iter = _kmeans_iter_cte

    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id <> 0
), ve AS (
  SELECT vec_id, i.i - 1 AS pos, e[i.i] AS x
  FROM v CROSS JOIN LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) i
), qe AS (
  SELECT i.i - 1 AS pos, e[i.i] AS x
  FROM (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings WHERE vec_id = 0)
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) i
), c0 AS (
  SELECT s.vec_id AS cid, i.i - 1 AS pos, s.e[i.i] AS cval
  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {n_centroids}) s
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) i
), {one_iter(1, "c0")}, {one_iter(2, "c1")}, qnf AS (
  SELECT cid, sum(CAST(floor(cval * cval * 1e10) AS BIGINT)) AS qn
  FROM c2 GROUP BY cid
), sf AS (
  SELECT ve.vec_id, c.cid,
         sum(CAST(floor(ve.x * c.cval * 1e10) AS BIGINT)) AS qd
  FROM ve JOIN c2 c ON ve.pos = c.pos
  GROUP BY ve.vec_id, c.cid
), af AS (
  SELECT vec_id, cid AS centroid FROM (
    SELECT sf.vec_id, sf.cid,
           row_number() OVER (PARTITION BY sf.vec_id
             ORDER BY CAST(sf.qd AS DOUBLE) / sqrt(CAST(qnf.qn AS DOUBLE)) DESC,
                      sf.cid DESC) AS rn
    FROM sf JOIN qnf USING (cid)
  ) WHERE rn = 1
), pq AS (
  SELECT c.cid, sum(CAST(floor(qe.x * c.cval * 1e10) AS BIGINT)) AS qd
  FROM c2 c JOIN qe ON c.pos = qe.pos GROUP BY c.cid
), pr AS (
  SELECT cid FROM (
    SELECT pq.cid,
           row_number() OVER (
             ORDER BY CAST(pq.qd AS DOUBLE) / sqrt(CAST(qnf.qn AS DOUBLE)) DESC,
                      pq.cid ASC) AS rn
    FROM pq JOIN qnf USING (cid)
  ) WHERE rn <= {nprobe}
), pairs AS (
  SELECT ve.vec_id, ve.x, qe.x AS y
  FROM ve JOIN qe USING (pos)
  JOIN af USING (vec_id) JOIN pr ON af.centroid = pr.cid
), sums AS (
  SELECT vec_id,
         sum(CAST(floor((x * y) * 1e14) AS BIGINT)) AS dot_d,
         sum(CAST(floor((x * x) * 1e14) AS BIGINT)) AS na,
         sum(CAST(floor((y * y) * 1e14) AS BIGINT)) AS nb
  FROM pairs GROUP BY vec_id
)
SELECT vec_id,
       CAST(dot_d AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
FROM sums ORDER BY cosine DESC, vec_id LIMIT {k}
"""


@query("sim_ivf_exact", _ivf_exact_oracle())
def sim_ivf_exact(spark, sf_dir):
    """FULLY-ORACLED IVF (`similarity.ivf_search_exact`): deterministic
    quantized k-means (2 Lloyd iterations, lowest-id init), quantized
    assignment and probe ranking, quantized-cosine top-k — the oracle
    unrolls both training iterations in SQL and reproduces every number.
    Upgrades the IVF family from rows-only to hash-verified; the storage
    variant below keeps the partition-pruned probe path."""
    from .pipeline.similarity import ivf_search_exact

    e = engine_for(spark, sf_dir)
    emb = e.table("embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return ivf_search_exact(
        emb.filter(F.col("vec_id") != 0), qvec, k=10, nprobe=4, n_centroids=16
    )


@query("sim_ivf_search", _ivf_exact_oracle())
def sim_ivf_search(spark, sf_dir):
    """IVF approximate NN over STORAGE: the exact quantized coarse
    quantizer (`ivf_build_exact`), assignment persisted PARTITIONED BY
    centroid, then an nprobe search whose centroid IN-list is a partition
    filter — directory-level pruning reads ~nprobe/n_centroids of the
    bytes (the 100 TB probe path).  Every number is the exact-math IVF's
    (quantized BIGINT sums end to end), so the stored path shares
    `_ivf_exact_oracle` — upgraded from rows-only in round 4 (the float
    quantizer's avg() means were partition-order-dependent; the pruning
    behavior itself is unchanged and still plan-linted)."""
    import os
    import uuid

    from .pipeline.similarity import (
        ivf_build_exact,
        ivf_search_stored_exact,
        ivf_write,
    )

    e = engine_for(spark, sf_dir)
    emb = e.table("embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    assigned, cents = ivf_build_exact(
        emb.filter(F.col("vec_id") != 0), n_centroids=16
    )
    path = os.path.join(e.warehouse, f"ivf_{uuid.uuid4().hex[:8]}")
    ivf_write(assigned, path)
    return ivf_search_stored_exact(spark, path, cents, qvec, k=10, nprobe=4)


def _semdedup_oracle(
    n_centroids: int = 16, threshold: float = 0.9, dim: int = 64
) -> str:
    """SemDeDup recomputed in SQL: the same unrolled 2-iteration quantized
    k-means as the IVF oracle (shared ``_kmeans_iter_cte``), final
    assignment WITH its quantized centroid-cosine score, same-cluster
    pairs, floor-quantized pair cosines, and the keep-the-outlier rule."""
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), ve AS (
  SELECT vec_id, i.i - 1 AS pos, e[i.i] AS x
  FROM v CROSS JOIN LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) i
), c0 AS (
  SELECT s.vec_id AS cid, i.i - 1 AS pos, s.e[i.i] AS cval
  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {n_centroids}) s
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) i
), {_kmeans_iter_cte(1, "c0")}, {_kmeans_iter_cte(2, "c1")}, qnf AS (
  SELECT cid, sum(CAST(floor(cval * cval * 1e10) AS BIGINT)) AS qn
  FROM c2 GROUP BY cid
), sfin AS (
  SELECT ve.vec_id, c.cid,
         sum(CAST(floor(ve.x * c.cval * 1e10) AS BIGINT)) AS qd
  FROM ve JOIN c2 c ON ve.pos = c.pos
  GROUP BY ve.vec_id, c.cid
), af AS (
  -- denom==0 -> 1.0: same degenerate-centroid guard as the engine's
  -- assignment (_argmax_centroid_exact) and cscore paths
  SELECT vec_id, cid AS centroid,
         CAST(qd AS DOUBLE)
           / (CASE WHEN qn = 0 THEN 1.0 ELSE sqrt(CAST(qn AS DOUBLE)) END)
           AS score
  FROM (
    SELECT sfin.vec_id, sfin.cid, sfin.qd, qnf.qn,
           row_number() OVER (PARTITION BY sfin.vec_id
             ORDER BY CAST(sfin.qd AS DOUBLE)
               / (CASE WHEN qnf.qn = 0 THEN 1.0
                       ELSE sqrt(CAST(qnf.qn AS DOUBLE)) END) DESC,
                      sfin.cid DESC) AS rn
    FROM sfin JOIN qnf USING (cid)
  ) WHERE rn = 1
), prs AS (
  SELECT a.centroid, a.vec_id AS id_a, b.vec_id AS id_b,
         a.score AS sa, b.score AS sb
  FROM af a JOIN af b ON a.centroid = b.centroid AND a.vec_id < b.vec_id
), dots AS (
  SELECT p.id_a, p.id_b,
         sum(CAST(floor(va.x * vb.x * 1e14) AS BIGINT)) AS dot_d
  FROM prs p
  JOIN ve va ON va.vec_id = p.id_a
  JOIN ve vb ON vb.vec_id = p.id_b AND vb.pos = va.pos
  GROUP BY 1, 2
), norms AS (
  SELECT vec_id, sum(CAST(floor(x * x * 1e14) AS BIGINT)) AS nn
  FROM ve GROUP BY 1
), scoredp AS (
  SELECT p.centroid, p.id_a, p.id_b, p.sa, p.sb,
         CAST(d.dot_d AS DOUBLE)
           / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS cosine
  FROM prs p JOIN dots d ON p.id_a = d.id_a AND p.id_b = d.id_b
  JOIN norms na ON na.vec_id = p.id_a
  JOIN norms nb ON nb.vec_id = p.id_b
)
SELECT centroid,
       CASE WHEN sa > sb THEN id_b ELSE id_a END AS keep_id,
       CASE WHEN sa > sb THEN id_a ELSE id_b END AS drop_id,
       cosine
FROM scoredp WHERE cosine >= {threshold}
"""


@query(
    "quality_model_scores",
    """WITH feats AS (
         SELECT lang AS label,
                CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
                  / 100.0 AS x1,
                CAST(length(text) AS DOUBLE)
                  / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
                  / 10.0 AS x2,
                CASE WHEN lang = 'en' THEN CAST(1 AS DOUBLE)
                     ELSE CAST(0 AS DOUBLE) END AS y
         FROM documents
       ), sums AS (
         SELECT CAST(count(*) AS DOUBLE) AS n,
                CAST(sum(CAST(floor(x1 * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS s1,
                CAST(sum(CAST(floor(x2 * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS s2,
                CAST(sum(CAST(floor(x1 * x1 * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS s11,
                CAST(sum(CAST(floor(x1 * x2 * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS s12,
                CAST(sum(CAST(floor(x2 * x2 * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS s22,
                CAST(sum(CAST(floor(y * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS sy,
                CAST(sum(CAST(floor(x1 * y * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS s1y,
                CAST(sum(CAST(floor(x2 * y * 1e8) AS BIGINT)) AS DOUBLE) / 1e8 AS s2y
         FROM feats
       ), w AS (
         SELECT ((sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
                  + s2 * (s1y * s12 - s11 * s2y))
                 / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2))) AS w0,
                ((n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
                  + s2 * (s1 * s2y - s1y * s2))
                 / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2))) AS w1,
                ((n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
                  + sy * (s1 * s12 - s11 * s2))
                 / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2))) AS w2
         FROM sums
       )
       SELECT label, CAST(count(*) AS BIGINT) AS n_docs,
              min(w0) AS w0, min(w1) AS w1, min(w2) AS w2,
              CAST(sum(CAST(floor((w0 + w1 * x1 + w2 * x2) * 1e8) AS BIGINT))
                   AS DOUBLE) / count(*) / 1e8 AS avg_pred
       FROM feats CROSS JOIN w GROUP BY label""",
)
def quality_model_scores(spark, sf_dir):
    """Trained quality filter (`text.linear_quality_model`): one-pass
    distributed least squares (is-English vs two surface features) with a
    Cramer's-rule solve written as a fixed IEEE expression — the
    ML-training pattern (fit a classifier over corpus features, then
    score every document) as a two-aggregate Spark plan. All moments are
    floor-quantized BIGINT sums, so the fitted weights AND the
    per-language mean scores hash-match the SQL oracle (logistic loss
    would need exp(), whose last ULP differs across engines — least
    squares keeps the whole fit transcendental-free). The reference has
    no regression surface at all; this is driver-mandate territory
    (learned quality scoring a la CCNet/fastText)."""
    from .pipeline.text import linear_quality_model

    e = engine_for(spark, sf_dir)
    return linear_quality_model(e.table("documents"))


def _hash_kernel_oracle(d: int = 8, iters: int = 4) -> str:
    """Unrolled SQL replay of `text.hash_kernel_classifier` (the same
    generated-CTE pattern as the k-means/BPE oracles): featurize the
    even-doc training slice, run `iters` quantized batch-GD steps as
    chained (moments → weight-update) CTE pairs, then score every doc
    with the final weights.  Every arithmetic op mirrors the Spark/
    Python chain exactly ((S/n)/1e8, dyadic lr=0.5, left-assoc dot
    product) so weights and scores are bit-identical."""
    xcols = ",\n         ".join(
        f"CAST(len(list_filter(t, w -> ('0x' || substr(md5('hk:' || w), 1, 13))"
        f"::BIGINT % {d} = {j})) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS x{j}"
        for j in range(d)
    )

    def pred(w: str, f: str) -> str:
        return f"{w}.wb" + "".join(
            f" + {w}.c{j} * {f}.x{j}" for j in range(d)
        )

    ctes = [
        f"""tr AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t,
         CASE WHEN lang = 'en' THEN CAST(1 AS DOUBLE)
              ELSE CAST(0 AS DOUBLE) END AS y
  FROM documents WHERE length(trim(text)) > 0 AND doc_id % 2 = 0
)""",
        f"""tf AS (
  SELECT y,
         {xcols}
  FROM tr
)""",
        "wt0 AS (SELECT CAST(0 AS DOUBLE) AS wb, "
        + ", ".join(f"CAST(0 AS DOUBLE) AS c{j}" for j in range(d))
        + ")",
    ]
    for i in range(1, iters + 1):
        p = pred("w", "f")
        moments = ", ".join(
            [
                "count(*) AS n",
                f"CAST(sum(floor(({p} - f.y) * 1e8)) AS BIGINT) AS sb",
            ]
            + [
                f"CAST(sum(floor(f.x{j} * ({p} - f.y) * 1e8)) AS BIGINT) AS s{j}"
                for j in range(d)
            ]
        )
        ctes.append(
            f"g{i} AS (SELECT {moments} FROM tf f CROSS JOIN wt{i-1} w)"
        )
        upd = ", ".join(
            [
                "w.wb - 0.5 * (CAST(g.sb AS DOUBLE) / CAST(g.n AS DOUBLE)"
                " / 1e8) AS wb"
            ]
            + [
                f"w.c{j} - 0.5 * (CAST(g.s{j} AS DOUBLE) / CAST(g.n AS DOUBLE)"
                f" / 1e8) AS c{j}"
                for j in range(d)
            ]
        )
        ctes.append(
            f"wt{i} AS (SELECT {upd} FROM g{i} g CROSS JOIN wt{i-1} w)"
        )
    ctes.append(
        """sc AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
)"""
    )
    ctes.append(
        f"""scf AS (
  SELECT doc_id,
         {xcols}
  FROM sc
)"""
    )
    p = pred("w", "f")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT f.doc_id, {p} AS qscore,
       ({p}) >= CAST(0.5 AS DOUBLE) AS keep
FROM scf f CROSS JOIN wt{iters} w"""
    )


@query("quality_hash_classifier", _hash_kernel_oracle())
def quality_hash_classifier(spark, sf_dir):
    """Trainable hash-kernel quality classifier
    (`text.hash_kernel_classifier`): fastText-style linear model over
    hashed token-bucket features (hashing trick, md5-derived portable
    hash), trained in-engine with 4 fixed quantized batch-GD steps on
    the even-doc_id labeled slice (is-English target) and then scoring
    EVERY document with a keep flag at the 0.5 bar — the learned-filter
    stage of the DCLM/CCNet curation pipeline.  Per GD step: one
    combiner moment aggregate to a single bounded row; scoring: a pure
    literal-weight projection (no join, no shuffle — plan-linted)."""
    from .pipeline.text import hash_kernel_classifier
    from .pipeline import ensure_parallelism

    e = engine_for(spark, sf_dir)
    docs = ensure_parallelism(e.table("documents"))
    # train_filter mode (r11): featurize once, train on the even slice of
    # the SAME cached features, score from the cache — one md5 pass over
    # the corpus instead of 1.5
    _w, scored = hash_kernel_classifier(
        None, docs, d=8, iters=4, train_filter="doc_id % 2 = 0"
    )
    return scored


@query("quality_hash_classifier_sparse", _hash_kernel_oracle())
def quality_hash_classifier_sparse(spark, sf_dir):
    """`quality_hash_classifier` through the SPARSE core
    (`text._hk_sparse` with one head, the plan the classifier takes
    above d=64), called directly at the gate's d=8: tokens explode to
    (doc, bucket, x) rows once, the weights ride as a broadcast
    hash-join table of d narrow rows, per-doc predictions are ordered
    folds over bucket-ascending regrouped terms, and each GD step's
    moments come back as one groupBy(cls, bucket) combiner aggregate —
    per-step cost independent of the bucket count ``d`` (measured flat
    to d=2^18; dense is O(tokens·d) per row and stops planning near
    d=10^3).  Shares the dense entry's oracle verbatim because the two
    plans are BIT-IDENTICAL: the sparse fold adds the nonzero w·x terms
    in the dense chain's ascending-bucket order, and skipped terms are
    exact IEEE ±0.0 adds."""
    from .pipeline.text import _hk_keep, _hk_sparse
    from .pipeline import ensure_parallelism

    e = engine_for(spark, sf_dir)
    docs = ensure_parallelism(e.table("documents"))
    _w, scored = _hk_sparse(
        docs.filter("doc_id % 2 = 0"), docs, ["en"], d=8, iters=4
    )
    return _hk_keep(scored, "doc_id", 0.5)


_LANGID_CLASSES = ["de", "en", "es", "fr", "zh"]  # the corpus label set


def _lang_id_mc_oracle(
    classes: list[str], d: int = 16, iters: int = 3
) -> str:
    """Unrolled SQL replay of `text.hash_kernel_multiclass`: featurize
    the even-doc slice once, run `iters` quantized batch-GD steps for
    ALL K one-vs-rest heads as chained (moments → weight-update) CTE
    pairs — each g{i} carries the K·(d+1) sums of ONE pass, mirroring
    the Spark plan's single moment aggregate — then score every doc and
    take the argmax with ties toward the lexicographically largest
    class (the same descending CASE chain as `_lang_id_oracle`; DuckDB
    greatest can't take structs).  Every arithmetic op mirrors the
    Spark/Python chain exactly, so heads, argmax, and best_score are
    bit-identical."""
    xcols = ",\n         ".join(
        f"CAST(len(list_filter(t, w -> ('0x' || substr(md5('hk:' || w), 1, 13))"
        f"::BIGINT % {d} = {j})) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS x{j}"
        for j in range(d)
    )

    def pred(c: str, w: str, f: str) -> str:
        return f"{w}.wb_{c}" + "".join(
            f" + {w}.c_{c}_{j} * {f}.x{j}" for j in range(d)
        )

    ycols = ",\n         ".join(
        f"CASE WHEN lang = '{c}' THEN CAST(1 AS DOUBLE)"
        f" ELSE CAST(0 AS DOUBLE) END AS y_{c}"
        for c in classes
    )
    ctes = [
        f"""mtr AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t,
         {ycols}
  FROM documents WHERE length(trim(text)) > 0 AND doc_id % 2 = 0
)""",
        f"""mtf AS (
  SELECT {', '.join(f'y_{c}' for c in classes)},
         {xcols}
  FROM mtr
)""",
        "mwt0 AS (SELECT "
        + ", ".join(
            f"CAST(0 AS DOUBLE) AS wb_{c}, "
            + ", ".join(f"CAST(0 AS DOUBLE) AS c_{c}_{j}" for j in range(d))
            for c in classes
        )
        + ")",
    ]
    for i in range(1, iters + 1):
        moments = ["count(*) AS n"]
        upd = []
        for c in classes:
            p = pred(c, "w", "f")
            moments.append(
                f"CAST(sum(floor(({p} - f.y_{c}) * 1e8)) AS BIGINT) AS sb_{c}"
            )
            moments += [
                f"CAST(sum(floor(f.x{j} * ({p} - f.y_{c}) * 1e8)) AS BIGINT)"
                f" AS s_{c}_{j}"
                for j in range(d)
            ]
            upd.append(
                f"w.wb_{c} - 0.5 * (CAST(g.sb_{c} AS DOUBLE)"
                f" / CAST(g.n AS DOUBLE) / 1e8) AS wb_{c}"
            )
            upd += [
                f"w.c_{c}_{j} - 0.5 * (CAST(g.s_{c}_{j} AS DOUBLE)"
                f" / CAST(g.n AS DOUBLE) / 1e8) AS c_{c}_{j}"
                for j in range(d)
            ]
        ctes.append(
            f"mg{i} AS (SELECT {', '.join(moments)}"
            f" FROM mtf f CROSS JOIN mwt{i - 1} w)"
        )
        ctes.append(
            f"mwt{i} AS (SELECT {', '.join(upd)}"
            f" FROM mg{i} g CROSS JOIN mwt{i - 1} w)"
        )
    ctes.append(
        """msc AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
)"""
    )
    ctes.append(
        f"""mscf AS (
  SELECT doc_id,
         {xcols}
  FROM msc
)"""
    )
    scores = ",\n         ".join(
        f"{pred(c, 'w', 'f')} AS s_{c}" for c in classes
    )
    ctes.append(
        f"""mscored AS (
  SELECT f.doc_id,
         {scores}
  FROM mscf f CROSS JOIN mwt{iters} w
)"""
    )
    ordered = sorted(classes, reverse=True)
    branches = []
    for i, c in enumerate(ordered[:-1]):
        conds = " AND ".join(
            f"s_{c} >= s_{o}" for o in ordered[i + 1 :]
        )
        branches.append(f"WHEN {conds} THEN '{c}'")
    alls = ", ".join(f"s_{c}" for c in classes)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT doc_id,
       CASE {' '.join(branches)} ELSE '{ordered[-1]}' END AS lang_pred,
       greatest({alls}) AS best_score
FROM mscored"""
    )


@query("lang_id_multiclass", _lang_id_mc_oracle(_LANGID_CLASSES, d=8))
def lang_id_multiclass(spark, sf_dir):
    """IN-ENGINE TRAINED language ID (`text.hash_kernel_multiclass`):
    five one-vs-rest hash-kernel heads (d=8 buckets at the gate — the
    md5-portable hashing trick; capacity is a knob, and the d=16
    separable-fixture test covers the wider shape) trained
    simultaneously with 3 quantized batch-GD steps on the even-doc
    labeled slice — every step is ONE moment aggregate carrying all
    K·(d+1) sums, so classes add no extra corpus scans — then every
    document scored and argmax'd (ties toward the lexicographically
    largest code, `lang_id`'s rule).  Upgrades the marker-list heuristic
    to a learned lexical signal (VERDICT r7 ask #7).  NOTE: the
    synthetic corpus draws every language's tokens from ONE shared pool,
    so no lexical classifier can beat the majority class here (the
    marker heuristic is equally blind: ~0.29 accuracy); that the model
    LEARNS when signal exists is locked by the separable-fixture test,
    and the agreement report vs labels + marker baseline by
    `tests/test_pipeline_ops.py::test_lang_id_multiclass_agreement`.
    The oracle unrolls featurization, all GD steps, scoring, and the
    argmax, so the whole trained model value-hashes at every SF."""
    from .pipeline import ensure_parallelism
    from .pipeline.text import hash_kernel_multiclass

    e = engine_for(spark, sf_dir)
    docs = ensure_parallelism(e.table("documents"))
    # train_filter mode (r11): one shared featurize pass backs GD + scoring
    _w, pred = hash_kernel_multiclass(
        None, docs,
        classes=_LANGID_CLASSES, d=8, iters=3,
        train_filter="doc_id % 2 = 0",
    )
    return pred


@query("lang_id_multiclass_sparse", _lang_id_mc_oracle(_LANGID_CLASSES, d=8))
def lang_id_multiclass_sparse(spark, sf_dir):
    """`lang_id_multiclass` through the SPARSE core (`text._hk_sparse`,
    the plan the classifier takes above d=64), called directly at the
    gate's d=8: features built once at the token level, the whole K-head
    model riding as a BROADCAST HASH-JOIN TABLE of d narrow rows (the
    one-array-row alternative was measured materializing 10 MB into
    every joined row — SCALING.md round-9), per-doc predictions K
    ordered folds over bucket-ascending regrouped terms, per-step
    moments one groupBy(cls, bucket) aggregate of ≤ K·(d+1) narrow rows —
    nothing scales with d but the weight arrays (measured ~flat d=8 →
    d=2^18, SCALING.md round 9).  BIT-identical to the dense plan by the
    ordered-fold argument, so this entry shares `lang_id_multiclass`'s
    oracle verbatim — the strongest cross-plan equivalence evidence the
    gate can record."""
    from .pipeline import ensure_parallelism
    from .pipeline.text import _hk_argmax, _hk_sparse

    e = engine_for(spark, sf_dir)
    docs = ensure_parallelism(e.table("documents"))
    _w, scored = _hk_sparse(
        docs.filter("doc_id % 2 = 0"), docs, _LANGID_CLASSES, d=8, iters=3
    )
    return _hk_argmax(scored, _LANGID_CLASSES, "doc_id")


@query(
    "decontaminate_semantic",
    """WITH v AS (
         SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         FROM embeddings
       ), ev AS (
         SELECT vec_id AS eid, e FROM v WHERE vec_id % 53 = 0
       ), cp AS (
         SELECT vec_id, e FROM v WHERE vec_id % 53 <> 0
       ), pairs AS (
         SELECT c.vec_id,
                list_reduce([CAST(floor(c.e[i] * ev.e[i] * 1e14) AS BIGINT)
                             for i in generate_series(1, 64)],
                            (x, y) -> x + y) AS dot_d,
                list_reduce([CAST(floor(c.e[i] * c.e[i] * 1e14) AS BIGINT)
                             for i in generate_series(1, 64)],
                            (x, y) -> x + y) AS na,
                list_reduce([CAST(floor(ev.e[i] * ev.e[i] * 1e14) AS BIGINT)
                             for i in generate_series(1, 64)],
                            (x, y) -> x + y) AS nb
         FROM cp c CROSS JOIN ev
       ), scored AS (
         -- zero-norm guard mirrors the engine: denom==0 -> 1.0 (cosine 0)
         SELECT vec_id,
                CAST(dot_d AS DOUBLE)
                  / ((CASE WHEN na = 0 THEN CAST(1 AS DOUBLE)
                           ELSE sqrt(CAST(na AS DOUBLE)) END)
                     * (CASE WHEN nb = 0 THEN CAST(1 AS DOUBLE)
                             ELSE sqrt(CAST(nb AS DOUBLE)) END)) AS cos
         FROM pairs
       )
       SELECT vec_id, max(cos) AS max_eval_cos,
              (max(cos) >= 0.5) AS contaminated
       FROM scored GROUP BY vec_id""",
)
def decontaminate_semantic(spark, sf_dir):
    """Eval-set decontamination by EMBEDDING similarity
    (`similarity.semantic_decontaminate`) — the semantic sibling of the
    n-gram `decontaminate_ngrams` pass: every corpus vector's max
    quantized cosine against a small eval/benchmark slice (vec_id % 53);
    contaminated at ≥ 0.5.  Catches paraphrased benchmark leakage exact
    n-gram overlap misses.  Eval side collected once, corpus streams
    through one Arrow UDF that emits each row's max (no join, no
    shuffle); quantized-BIGINT cosines → the full decision table
    hash-matches the oracle."""
    from .pipeline.similarity import semantic_decontaminate

    e = engine_for(spark, sf_dir)
    emb = e.table("embeddings")
    ev = emb.filter(F.col("vec_id") % 53 == 0)
    corpus = emb.filter(F.col("vec_id") % 53 != 0)
    return semantic_decontaminate(corpus, ev, threshold=0.5)


@query("dedup_semantic", _semdedup_oracle(threshold=0.35))
def dedup_semantic(spark, sf_dir):
    """SemDeDup (`similarity.semantic_dedup`): cluster-then-compare
    semantic dedup — quantized k-means partitions the embedding space,
    pairwise cosine runs only inside a cluster (cluster id = shuffle key,
    never all-pairs), and each duplicate pair drops the member closer to
    its centroid (keep the outlier → preserve diversity). Complements the
    hyperplane-LSH near-dup entry: LSH finds high-cosine twins, SemDeDup
    finds cluster-local semantic redundancy at lower thresholds. Every
    number floor-quantized → the full pipeline (training included)
    hash-matches the SQL oracle. Threshold 0.35 fits this synthetic
    corpus: its 64-d vectors are near-orthogonal (pair cosines peak
    ~0.3-0.5), unlike real sentence embeddings where SemDeDup uses
    ~0.95+."""
    from .pipeline.similarity import semantic_dedup

    e = engine_for(spark, sf_dir)
    return semantic_dedup(e.table("embeddings"), n_clusters=16, threshold=0.35)


def _minhash_band_conds(
    num_perm: int, bands: int, la: str = "a", lb: str = "b"
) -> str:
    """OR-chain of per-band signature-slice equalities between two sig
    table aliases — the SQL equivalent of Spark's band-bucket join (the
    bucket hash is an equality proxy)."""
    rpb = num_perm // bands
    return "\n            OR ".join(
        f"{la}.sig[{i * rpb + 1}:{(i + 1) * rpb}] = "
        f"{lb}.sig[{i * rpb + 1}:{(i + 1) * rpb}]"
        for i in range(bands)
    )


def _minhash_est(num_perm: int, la: str = "a", lb: str = "b") -> str:
    """The signature-estimated-Jaccard SQL expression (matching-slot
    fraction) — ONE definition shared by the pair oracle, the
    incremental registry oracle, and the funnel-v3 near-dup stage so
    the criterion can never desynchronize (review r9)."""
    return (
        f"CAST(len([j for j in generate_series(1, {num_perm}) "
        f"if {la}.sig[j] = {lb}.sig[j]]) AS DOUBLE) / {float(num_perm)}"
    )


def _minhash_oracle(num_perm: int = 128, bands: int = 32, threshold: float = 0.4) -> str:
    """MinHash+LSH is deterministic end to end (seeded permutations, md5
    shingle hashes), so DuckDB can recompute it exactly: the permutation
    constants are inlined, the numpy uint64 wraparound is replicated with
    HUGEINT mod 2^64, and LSH banding becomes per-band signature-slice
    equality (bucket hashing is just an equality proxy on Spark's side)."""
    band_conds = _minhash_band_conds(num_perm, bands)
    est = _minhash_est(num_perm)
    return f"""
WITH {_minhash_sig_ctes(num_perm)}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       {est} AS est_jaccard
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE ({band_conds})
  AND {est} >= {threshold}
"""


def _minhash_sig_ctes(num_perm: int = 128, src: str = "documents") -> str:
    """Shared CTE prefix recomputing the md5 MinHash signatures of every
    document (permutation constants inlined, numpy uint64 wraparound as
    HUGEINT mod 2^64) — used by the pair oracle, the incremental
    registry oracle, and the funnel-v3 near-dup stage so none can
    drift.  ``src`` is any (doc_id, text) relation."""
    from .pipeline.dedup import _perm_params

    a, b = _perm_params(num_perm, 42)
    vals = ", ".join(
        f"({i}, {int(a[i])}, {int(b[i])})" for i in range(num_perm)
    )
    return f"""toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x <> '') AS tk
  FROM {src}
), shing AS (
  SELECT doc_id,
         CASE WHEN len(tk) = 0 THEN ['']
              WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
              ELSE list_distinct([array_to_string(tk[i:i+2], ' ')
                                  for i in generate_series(1, len(tk) - 2)])
         END AS ss
  FROM toks
), sh AS (
  SELECT doc_id, unnest(ss) AS s FROM shing
), hh AS (
  SELECT doc_id,
         ('0x' || substring(md5(s), 1, 2))::BIGINT::HUGEINT
         + ('0x' || substring(md5(s), 3, 2))::BIGINT::HUGEINT * 256
         + ('0x' || substring(md5(s), 5, 2))::BIGINT::HUGEINT * 65536
         + ('0x' || substring(md5(s), 7, 2))::BIGINT::HUGEINT * 16777216 AS h
  FROM sh
), mv AS (
  SELECT doc_id, p.i,
         min(CAST((p.a::HUGEINT * h + p.b)
                  % 18446744073709551616::HUGEINT
                  % 2305843009213693951 % 4294967295 AS BIGINT)) AS v
  FROM hh, (VALUES {vals}) p(i, a, b)
  GROUP BY doc_id, p.i
), sigs AS (
  SELECT doc_id, list(v ORDER BY i) AS sig FROM mv GROUP BY doc_id
)"""


@query("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark, sf_dir):
    from .pipeline.dedup import minhash_dedup_pairs

    e = engine_for(spark, sf_dir)
    return minhash_dedup_pairs(e.table("documents"), threshold=0.4)


def _minhash_incremental_oracle(
    num_perm: int = 128, bands: int = 32, threshold: float = 0.4
) -> str:
    """Incremental near-dup admission recomputed in SQL: signatures via
    the shared CTE prefix, registry = even doc_ids, batch = odd; banded
    candidates as per-band slice equality; best est-Jaccard ≥ threshold
    against registry / earlier-batch (0.0 when none); kept = both zero."""
    est = _minhash_est(num_perm, "n", "o")
    bc = _minhash_band_conds(num_perm, bands, "n", "o")
    return f"""
WITH {_minhash_sig_ctes(num_perm)}, known AS (
  SELECT * FROM sigs WHERE doc_id % 2 = 0
), newb AS (
  SELECT * FROM sigs WHERE doc_id % 2 = 1
), bk AS (
  SELECT n.doc_id AS id_n, max({est}) AS best
  FROM newb n JOIN known o ON ({bc})
  WHERE {est} >= {threshold}
  GROUP BY n.doc_id
), bb AS (
  SELECT n.doc_id AS id_n, max({est}) AS best
  FROM newb n JOIN newb o ON o.doc_id < n.doc_id AND ({bc})
  WHERE {est} >= {threshold}
  GROUP BY n.doc_id
)
SELECT n.doc_id AS doc_id,
       COALESCE(bk.best, 0.0) AS best_known,
       COALESCE(bb.best, 0.0) AS best_batch,
       (COALESCE(bk.best, 0.0) = 0.0 AND COALESCE(bb.best, 0.0) = 0.0) AS kept
FROM newb n
LEFT JOIN bk ON bk.id_n = n.doc_id
LEFT JOIN bb ON bb.id_n = n.doc_id
"""


@query("dedup_incremental_minhash", _minhash_incremental_oracle())
def dedup_incremental_minhash(spark, sf_dir):
    """Incremental NEAR-dup ingestion (`dedup.incremental_minhash_dedup`)
    — the fuzzy sibling of `dedup_incremental`: a new batch (odd doc_ids)
    is admitted against a persisted SIGNATURE registry built from the
    known corpus (even doc_ids; 128 longs/doc — the registry a 100 TB
    pipeline actually keeps, never corpus text).  Rejection = banded
    est-Jaccard ≥ 0.4 against any registry doc or any earlier batch doc
    (deterministic greedy id-order).  Both candidate joins meet only
    inside band buckets; estimates are k/128 exact doubles, so the whole
    decision table hash-matches the SQL oracle."""
    from .pipeline.dedup import incremental_minhash_dedup, minhash_signatures

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    known = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    known_sigs = minhash_signatures(known)
    return incremental_minhash_dedup(new, known_sigs, threshold=0.4)


# SimHash is fully deterministic (md5 token hashes, little-endian), so the
# DuckDB oracle recomputes the 64-bit fingerprint bit by bit and brute-forces
# all pairs — the Spark side's pigeonhole banding is lossless for
# hamming ≤ 3, so the results must be identical.
_SIMHASH_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(
             regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))) AS tok
  FROM documents
), tb AS (
  SELECT doc_id, md5(tok) AS h FROM toks
), bits AS (
  SELECT doc_id, bs.b,
         ((('0x' || substring(h, (bs.b // 8) * 2 + 1, 2))::BIGINT >> (bs.b % 8)) & 1) AS bit
  FROM tb, (SELECT unnest(generate_series(0, 63)) AS b) bs
), votes AS (
  SELECT doc_id, b, sum(2 * bit - 1) AS v FROM bits GROUP BY doc_id, b
), sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 AND b < 63 THEN (1::BIGINT << b) ELSE 0 END)
              + sum(CASE WHEN v > 0 AND b = 63 THEN -9223372036854775808 ELSE 0 END)
              AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
), all_docs AS (
  SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
  FROM documents d LEFT JOIN sh s USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM all_docs a JOIN all_docs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@query("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark, sf_dir):
    from .pipeline.dedup import simhash_pairs

    e = engine_for(spark, sf_dir)
    return simhash_pairs(e.table("documents"), max_hamming=3)


def _embedding_neardup_oracle(
    threshold: float = 0.9, planes: int = 6, dim: int = 64, seed: int = 42
) -> str:
    """Hyperplane LSH + exact-decimal cosine are both deterministic: the
    plane constants inline at full double precision (repr round-trips), the
    bucket sign bit folds the projection in list order exactly like Spark's
    ``aggregate`` (leading +0.0 cannot flip a sign), and the decimal cosine
    chain is order-free — so DuckDB reproduces the operator bit for bit."""
    import numpy as np

    rng = np.random.RandomState(seed)
    hyper = rng.standard_normal((planes, dim))
    plane_rows = ", ".join(
        "({}, [{}])".format(j, ", ".join(repr(float(x)) for x in hyper[j]))
        for j in range(planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), pl AS (
  SELECT * FROM (VALUES {plane_rows}) p(j, pv)
), proj AS (
  SELECT v.vec_id, pl.j,
         list_reduce([v.e[i] * pl.pv[i] FOR i IN generate_series(1, {dim})],
                     (acc, x) -> acc + x) AS d
  FROM v, pl
), bk AS (
  SELECT vec_id, string_agg(CASE WHEN d > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket
  FROM proj GROUP BY vec_id
), b AS (
  SELECT v.vec_id, v.e, bk.bucket FROM v JOIN bk USING (vec_id)
), cand AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b, a.e AS ea, c.e AS eb
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
), expl AS (
  SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM cand
), s AS (
  SELECT id_a, id_b,
         sum(CAST(floor((x * y) * 1e14) AS BIGINT)) AS dot_d,
         sum(CAST(floor((x * x) * 1e14) AS BIGINT)) AS na,
         sum(CAST(floor((y * y) * 1e14) AS BIGINT)) AS nb
  FROM expl GROUP BY id_a, id_b
)
SELECT id_a, id_b,
       CAST(dot_d AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
FROM s
WHERE CAST(dot_d AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= {threshold}
"""


def _lsh_topk_oracle(
    k: int = 5, planes: int = 6, dim: int = 64, seed: int = 42, mod: int = 199
) -> str:
    """Bucketed-ANN oracle: same inlined-plane bucketing as the near-dup
    oracle, then per-query rank over quantized cosines (ties broken by
    cand_id — deterministic in both engines)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    hyper = rng.standard_normal((planes, dim))
    plane_rows = ", ".join(
        "({}, [{}])".format(j, ", ".join(repr(float(x)) for x in hyper[j]))
        for j in range(planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), pl AS (
  SELECT * FROM (VALUES {plane_rows}) p(j, pv)
), proj AS (
  SELECT v.vec_id, pl.j,
         list_reduce([v.e[i] * pl.pv[i] FOR i IN generate_series(1, {dim})],
                     (acc, x) -> acc + x) AS d
  FROM v, pl
), bk AS (
  SELECT vec_id, string_agg(CASE WHEN d > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket
  FROM proj GROUP BY vec_id
), b AS (
  SELECT v.vec_id, v.e, bk.bucket FROM v JOIN bk USING (vec_id)
), cand AS (
  SELECT qb.vec_id AS query_id, cb.vec_id AS cand_id, qb.e AS ea, cb.e AS eb
  FROM b qb JOIN b cb ON qb.bucket = cb.bucket
  WHERE qb.vec_id % {mod} = 0 AND cb.vec_id % {mod} <> 0
), expl AS (
  SELECT query_id, cand_id, unnest(ea) AS x, unnest(eb) AS y FROM cand
), s AS (
  SELECT query_id, cand_id,
         sum(CAST(floor((x * y) * 1e14) AS BIGINT)) AS dot_d,
         sum(CAST(floor((x * x) * 1e14) AS BIGINT)) AS na,
         sum(CAST(floor((y * y) * 1e14) AS BIGINT)) AS nb
  FROM expl GROUP BY query_id, cand_id
), scored AS (
  SELECT query_id, cand_id,
         CAST(dot_d AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
  FROM s
)
SELECT query_id, cand_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def _lsh_multiprobe_oracle(
    k: int = 5, planes: int = 6, dim: int = 64, seed: int = 42, mod: int = 199
) -> str:
    """Multi-probe variant: the query side probes its bucket plus every
    Hamming-1 flip (same string surgery as the Spark expression)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    hyper = rng.standard_normal((planes, dim))
    plane_rows = ", ".join(
        "({}, [{}])".format(j, ", ".join(repr(float(x)) for x in hyper[j]))
        for j in range(planes)
    )
    flips = ", ".join(
        f"substring(bucket, 1, {i}) || "
        f"(CASE WHEN substring(bucket, {i + 1}, 1) = '1' THEN '0' ELSE '1' END)"
        f" || substring(bucket, {i + 2}, {planes - i - 1})"
        for i in range(planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), pl AS (
  SELECT * FROM (VALUES {plane_rows}) p(j, pv)
), proj AS (
  SELECT v.vec_id, pl.j,
         list_reduce([v.e[i] * pl.pv[i] FOR i IN generate_series(1, {dim})],
                     (acc, x) -> acc + x) AS d
  FROM v, pl
), bk AS (
  SELECT vec_id, string_agg(CASE WHEN d > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket
  FROM proj GROUP BY vec_id
), b AS (
  SELECT v.vec_id, v.e, bk.bucket FROM v JOIN bk USING (vec_id)
), qp AS (
  SELECT vec_id, e, unnest([bucket, {flips}]) AS bucket
  FROM b WHERE vec_id % {mod} = 0
), cand AS (
  SELECT qp.vec_id AS query_id, cb.vec_id AS cand_id, qp.e AS ea, cb.e AS eb
  FROM qp JOIN b cb ON qp.bucket = cb.bucket
  WHERE cb.vec_id % {mod} <> 0
), expl AS (
  SELECT query_id, cand_id, unnest(ea) AS x, unnest(eb) AS y FROM cand
), s AS (
  SELECT query_id, cand_id,
         sum(CAST(floor((x * y) * 1e14) AS BIGINT)) AS dot_d,
         sum(CAST(floor((x * x) * 1e14) AS BIGINT)) AS na,
         sum(CAST(floor((y * y) * 1e14) AS BIGINT)) AS nb
  FROM expl GROUP BY query_id, cand_id
), scored AS (
  SELECT query_id, cand_id,
         CAST(dot_d AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
  FROM s
)
SELECT query_id, cand_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def _hard_negatives_oracle(
    k: int = 5, planes: int = 6, dim: int = 64, seed: int = 42, mod: int = 199
) -> str:
    """Same bucketing/scoring as the ANN oracle, restricted to
    label-mismatched pairs."""
    import numpy as np

    rng = np.random.RandomState(seed)
    hyper = rng.standard_normal((planes, dim))
    plane_rows = ", ".join(
        "({}, [{}])".format(j, ", ".join(repr(float(x)) for x in hyper[j]))
        for j in range(planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), pl AS (
  SELECT * FROM (VALUES {plane_rows}) p(j, pv)
), proj AS (
  SELECT v.vec_id, pl.j,
         list_reduce([v.e[i] * pl.pv[i] FOR i IN generate_series(1, {dim})],
                     (acc, x) -> acc + x) AS d
  FROM v, pl
), bk AS (
  SELECT vec_id, string_agg(CASE WHEN d > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket
  FROM proj GROUP BY vec_id
), b AS (
  SELECT v.vec_id, v.label, v.e, bk.bucket FROM v JOIN bk USING (vec_id)
), cand AS (
  SELECT qb.vec_id AS query_id, cb.vec_id AS cand_id, qb.e AS ea, cb.e AS eb
  FROM b qb JOIN b cb ON qb.bucket = cb.bucket AND qb.label <> cb.label
  WHERE qb.vec_id % {mod} = 0 AND cb.vec_id % {mod} <> 0
), expl AS (
  SELECT query_id, cand_id, unnest(ea) AS x, unnest(eb) AS y FROM cand
), s AS (
  SELECT query_id, cand_id,
         sum(CAST(floor((x * y) * 1e14) AS BIGINT)) AS dot_d,
         sum(CAST(floor((x * x) * 1e14) AS BIGINT)) AS na,
         sum(CAST(floor((y * y) * 1e14) AS BIGINT)) AS nb
  FROM expl GROUP BY query_id, cand_id
), scored AS (
  SELECT query_id, cand_id,
         CAST(dot_d AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
  FROM s
)
SELECT query_id, cand_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS rn
  FROM scored
) WHERE rn <= {k}
"""


@query("sim_hard_negatives", _hard_negatives_oracle())
def sim_hard_negatives(spark, sf_dir):
    """Hard-negative mining (`similarity.hard_negatives`): per query, the
    top-5 most-similar DIFFERENT-label candidates — the looks-alike-isn't
    pairs contrastive training feeds on. Label mismatch rides the bucket
    join, so same-label pairs drop before scoring."""
    from .pipeline.similarity import hard_negatives

    e = engine_for(spark, sf_dir)
    # dim=64 (the embeddings fixture width, hardcoded in the oracle):
    # skips hyperplane_buckets' schema-probe .first() job (guide §5 —
    # no driver actions in the query path); plan literals identical.
    return hard_negatives(
        e.table("embeddings"), lambda c: c % 199 == 0, k=5, planes=6, dim=64
    )


@query("sim_lsh_multiprobe", _lsh_multiprobe_oracle())
def sim_lsh_multiprobe(spark, sf_dir):
    """Multi-probe bucketed ANN (`similarity.lsh_multiprobe_topk`): each
    query probes its own bucket plus all Hamming-1 flips — the classic
    recall boost for near-boundary neighbors without more hash tables.
    Only the small query side fans out ×(planes+1); candidates keep one
    bucket row each."""
    from .pipeline.similarity import lsh_multiprobe_topk

    e = engine_for(spark, sf_dir)
    # dim=64: same schema-probe skip as sim_lsh_topk
    return lsh_multiprobe_topk(
        e.table("embeddings"), lambda c: c % 199 == 0, k=5, planes=6, dim=64
    )


@query("sim_lsh_topk", _lsh_topk_oracle())
def sim_lsh_topk(spark, sf_dir):
    """Bucketed ANN (the scale path between brute-force and IVF): top-5 by
    cosine among same-hyperplane-bucket candidates, for every query vector
    (vec_id % 199 = 0). Fully oracled, unlike iterative-k-means IVF."""
    from .pipeline.similarity import lsh_bucketed_topk

    e = engine_for(spark, sf_dir)
    # dim=64 (the embeddings fixture width, hardcoded in the oracle):
    # skips hyperplane_buckets' schema-probe .first() job (guide §5 —
    # no driver actions in the query path); plan literals identical.
    return lsh_bucketed_topk(
        e.table("embeddings"), lambda c: c % 199 == 0, k=5, planes=6, dim=64
    )


@query("dedup_embedding_neardup", _embedding_neardup_oracle(threshold=0.3))
def dedup_embedding_neardup(spark, sf_dir):
    """Threshold 0.3 (not the production-ish 0.9): the synthetic embeddings
    are near-orthogonal (max in-bucket cosine ≈ 0.5), so a high threshold
    would make the oracle comparison vacuous (0 = 0 rows)."""
    from .pipeline.dedup import embedding_neardup_pairs

    e = engine_for(spark, sf_dir)
    # dim=64: same schema-probe skip as sim_lsh_topk
    return embedding_neardup_pairs(
        e.table("embeddings"), threshold=0.3, planes=6, dim=64
    )


@query(
    "dedup_ngram_jaccard",
    """WITH grams AS (
         SELECT doc_id,
                list_distinct([substring(text, i, 3)
                               for i in generate_series(1, greatest(length(text)-2, 1))]) AS gs
         FROM documents
       ), sized AS (
         SELECT doc_id, len(gs) AS n, unnest(gs) AS g FROM grams
       )
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(count(*) AS DOUBLE) / CAST(a.n + b.n - count(*) AS DOUBLE) AS jaccard
       FROM sized a JOIN sized b ON a.g = b.g AND a.doc_id < b.doc_id
       GROUP BY a.doc_id, b.doc_id, a.n, b.n
       HAVING CAST(count(*) AS DOUBLE) / CAST(a.n + b.n - count(*) AS DOUBLE) >= 0.5""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    from .pipeline.dedup import ngram_jaccard_pairs

    e = engine_for(spark, sf_dir)
    return ngram_jaccard_pairs(e.table("documents"), n=3, threshold=0.5)


@query(
    "dedup_clusters",
    """WITH RECURSIVE grams AS (
         SELECT doc_id,
                list_distinct([substring(text, i, 3)
                               for i in generate_series(1, greatest(length(text)-2, 1))]) AS gs
         FROM documents
       ), sized AS (
         SELECT doc_id, len(gs) AS n, unnest(gs) AS g FROM grams
       ), pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sized a JOIN sized b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id, a.n, b.n
         HAVING CAST(count(*) AS DOUBLE)
                / CAST(a.n + b.n - count(*) AS DOUBLE) >= 0.8
       ), edges AS (
         SELECT id_a AS u, id_b AS v FROM pairs
         UNION SELECT id_b, id_a FROM pairs
       ), reach(id, r) AS (
         SELECT u, u FROM edges
         UNION
         SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id
       ), labels AS (
         SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
       )
       SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
       FROM documents d LEFT JOIN labels l ON l.id = d.doc_id""",
)
def dedup_clusters_q(spark, sf_dir):
    """Duplicate clustering: near-dup pair graph (exact n-gram Jaccard
    ≥ 0.8) → connected components via distributed min-label propagation →
    every doc labeled with its cluster's min doc_id. The DuckDB oracle
    computes the same components with a recursive CTE."""
    from .pipeline.dedup import dedup_clusters, ngram_jaccard_pairs

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return dedup_clusters(docs, pairs)


@query(
    "dedup_incremental",
    """SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source
       FROM documents d
       WHERE d.doc_id % 2 = 0
         AND d.doc_id = (SELECT min(x.doc_id) FROM documents x
                         WHERE x.doc_id % 2 = 0 AND md5(x.text) = md5(d.text))
         AND NOT EXISTS (SELECT 1 FROM documents k
                         WHERE k.doc_id % 3 = 0 AND md5(k.text) = md5(d.text))""",
)
def dedup_incremental(spark, sf_dir):
    """Incremental-ingestion dedup: a re-crawled batch (even doc ids, by
    construction overlapping the registry) against the known-corpus digest
    registry (ids % 3 == 0). The registry a real pipeline keeps is the
    digest column alone — the anti-join shuffles 16-byte digests, never
    text, and nothing is O(corpus × batch)."""
    from .pipeline.dedup import incremental_dedup

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    new_batch = docs.filter(F.col("doc_id") % 2 == 0)
    known = docs.filter(F.col("doc_id") % 3 == 0)
    return incremental_dedup(new_batch, known).select("doc_id", "lang", "source")


@query(
    "dedup_canonical_corpus",
    """WITH RECURSIVE grams AS (
         SELECT doc_id,
                list_distinct([substring(text, i, 3)
                               for i in generate_series(1, greatest(length(text)-2, 1))]) AS gs
         FROM documents
       ), sized AS (
         SELECT doc_id, len(gs) AS n, unnest(gs) AS g FROM grams
       ), pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sized a JOIN sized b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id, a.n, b.n
         HAVING CAST(count(*) AS DOUBLE)
                / CAST(a.n + b.n - count(*) AS DOUBLE) >= 0.8
       ), edges AS (
         SELECT id_a AS u, id_b AS v FROM pairs
         UNION SELECT id_b, id_a FROM pairs
       ), reach(id, r) AS (
         SELECT u, u FROM edges
         UNION
         SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id
       ), labels AS (
         SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
       )
       SELECT d.doc_id, d.n_chars
       FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
       WHERE COALESCE(l.cluster_id, d.doc_id) = d.doc_id""",
)
def dedup_canonical_corpus(spark, sf_dir):
    """The end-product of the dedup stack: the DEDUPLICATED corpus — one
    canonical representative (min doc_id) per duplicate cluster, singletons
    kept. Labels from min-label propagation; the keep-set semi-joins back
    into the corpus, so the full-width rows only flow for survivors."""
    from .pipeline.dedup import dedup_clusters, ngram_jaccard_pairs

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    labels = dedup_clusters(docs, pairs)
    keep = labels.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi").select("doc_id", "n_chars")


@query(
    "corpus_curation_funnel",
    """WITH RECURSIVE grams AS (
         SELECT doc_id,
                list_distinct([substring(text, i, 3)
                               for i in generate_series(1, greatest(length(text)-2, 1))]) AS gs
         FROM documents
       ), sized AS (
         SELECT doc_id, len(gs) AS n, unnest(gs) AS g FROM grams
       ), pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sized a JOIN sized b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id, a.n, b.n
         HAVING CAST(count(*) AS DOUBLE)
                / CAST(a.n + b.n - count(*) AS DOUBLE) >= 0.8
       ), edges AS (
         SELECT id_a AS u, id_b AS v FROM pairs
         UNION SELECT id_b, id_a FROM pairs
       ), reach(id, r) AS (
         SELECT u, u FROM edges
         UNION
         SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id
       ), labels AS (
         SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
       ), toks AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         FROM documents
       ), q AS (
         SELECT t.doc_id, len(tk) AS nt,
                CAST(len(list_filter(tk,
                     x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], lower(x)))) AS DOUBLE)
                  / len(tk) AS sw
         FROM toks t
       ), g5 AS (
         SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS g
         FROM (SELECT doc_id, tk,
                      unnest(generate_series(1, len(tk) - 4)) AS i FROM toks) s
       ), cont AS (
         SELECT DISTINCT doc_id FROM g5
         WHERE doc_id % 97 <> 0
           AND g IN (SELECT g FROM g5 WHERE doc_id % 97 = 0)
       )
       SELECT CASE
                WHEN d.doc_id % 97 = 0 THEN 'eval'
                WHEN c.doc_id IS NOT NULL THEN 'contaminated'
                WHEN COALESCE(l.cluster_id, d.doc_id) <> d.doc_id
                  THEN 'near_duplicate'
                WHEN q.nt < 15 THEN 'length'
                WHEN q.sw < 0.02 THEN 'quality'
                WHEN ('0x' || substring(md5('s0' || CAST(d.doc_id AS VARCHAR)), 1, 13))::BIGINT
                     >= CAST(0.8 * 4503599627370496 AS BIGINT)
                  THEN 'sampled_out'
                ELSE 'keep' END AS verdict,
              count(*) AS n_docs
       FROM documents d
       LEFT JOIN labels l ON l.id = d.doc_id
       LEFT JOIN q ON q.doc_id = d.doc_id
       LEFT JOIN cont c ON c.doc_id = d.doc_id
       GROUP BY 1""",
)
def corpus_curation_funnel(spark, sf_dir):
    """The end-to-end training-data curation story in ONE query: every
    document gets its first-failing-stage verdict —
    eval holdout → test-set contamination (5-gram overlap; checked BEFORE
    dedup so a contaminated doc can never become a cluster representative)
    → near-duplicate (char-3-gram Jaccard ≥ 0.8, min-label clustering,
    non-representatives dropped) → length gate → stopword-quality gate →
    deterministic 80% hash sample — and the funnel reports documents per
    verdict. Composes five pipeline operators; the oracle recomputes all
    five stages in SQL (recursive CTE for the clustering)."""
    from .pipeline.dedup import dedup_clusters, ngram_jaccard_pairs
    from .pipeline.text import contaminated_doc_ids, quality_features

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    cand = docs.filter(F.col("doc_id") % 97 != 0)
    cont = contaminated_doc_ids(cand, ev, n=5).withColumnRenamed("doc_id", "c_id")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    labels = dedup_clusters(docs, pairs).select(
        F.col("doc_id").alias("l_id"), "cluster_id"
    )
    q = quality_features(docs).select("doc_id", "n_tokens", "stopword_ratio")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("s0"), F.col("doc_id").cast("string"))), 1, 13),
        16,
        10,
    ).cast("long")
    verdict = (
        F.when(F.col("doc_id") % 97 == 0, "eval")
        .when(F.col("c_id").isNotNull(), "contaminated")
        .when(
            F.coalesce(F.col("cluster_id"), F.col("doc_id")) != F.col("doc_id"),
            "near_duplicate",
        )
        .when(F.col("n_tokens") < 15, "length")
        .when(F.col("stopword_ratio") < 0.02, "quality")
        .when(h >= int(0.8 * 4503599627370496), "sampled_out")
        .otherwise("keep")
    )
    return (
        docs.select("doc_id")
        .join(labels, F.col("doc_id") == F.col("l_id"), "left")
        .join(q, "doc_id", "left")
        .join(cont, F.col("doc_id") == F.col("c_id"), "left")
        .select(verdict.alias("verdict"))
        .groupBy("verdict")
        .agg(F.count("*").alias("n_docs"))
    )


_FUNNEL_V2_ORACLE = """WITH RECURSIVE fmut AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 17 = 0 THEN text || ' {code}'
              WHEN doc_id % 17 = 1 THEN 'lorem ipsum ' || text
              ELSE text END AS ctext
  FROM documents
), fc4 AS (
  SELECT doc_id, lang, ctext,
         (NOT contains(lower(ctext), 'lorem ipsum')
          AND NOT contains(ctext, '{')) AS c4_ok
  FROM fmut
), fgm AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(words, w -> length(w))) AS BIGINT) AS word_chars,
         CAST(length(ctext) - length(replace(ctext, '#', '')) AS BIGINT) AS hash_count,
         CAST(length(ctext) - length(replace(ctext, '...', '')) AS BIGINT) AS ell_chars,
         CAST(length(ctext) - length(replace(ctext, '…', '')) AS BIGINT) AS uni_ell,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines,
            l -> substr(trim(l), 1, 1) IN ('-', '*', '•'))) AS BIGINT) AS bullet_lines,
         CAST(len(list_filter(lines,
            l -> ends_with(trim(l), '...'))) AS BIGINT) AS ell_lines,
         CAST(len(list_filter(words,
            w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words
  FROM (
    SELECT doc_id, ctext,
           regexp_split_to_array(
             regexp_replace(ctext, '^\\s+|\\s+$', '', 'g'), '\\s+') AS words,
           string_split(ctext, chr(10)) AS lines
    FROM fc4 WHERE c4_ok)
), fgop AS (
  SELECT doc_id,
         ((n_words >= 50 AND n_words <= 100000)
          AND (3 * n_words <= word_chars AND word_chars <= 10 * n_words)
          AND (10 * hash_count <= n_words)
          AND (10 * (ell_chars + 3 * uni_ell) <= 3 * n_words)
          AND (10 * bullet_lines <= 9 * n_lines)
          AND (10 * ell_lines <= 3 * n_lines)
          AND (5 * alpha_words >= 4 * n_words)) AS gopher_ok
  FROM fgm
), fs12 AS (
  SELECT c.doc_id, c.lang, c.ctext AS text
  FROM fc4 c JOIN fgop g ON c.doc_id = g.doc_id
  WHERE c.c4_ok AND g.gopher_ok
), fgrams AS (
  SELECT doc_id,
         list_distinct([substring(text, i, 3)
                        for i in generate_series(1, greatest(length(text)-2, 1))]) AS gs
  FROM fs12
), fsized AS (
  SELECT doc_id, len(gs) AS n, unnest(gs) AS g FROM fgrams
), fpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fsized a JOIN fsized b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
  HAVING CAST(count(*) AS DOUBLE)
         / CAST(a.n + b.n - count(*) AS DOUBLE) >= 0.8
), fedges AS (
  SELECT id_a AS u, id_b AS v FROM fpairs
  UNION SELECT id_b, id_a FROM fpairs
), freach(id, r) AS (
  SELECT u, u FROM fedges
  UNION
  SELECT e.v, freach.r FROM freach JOIN fedges e ON e.u = freach.id
), flabels AS (
  SELECT id, min(r) AS cluster_id FROM freach GROUP BY id
), fs123 AS (
  SELECT s.* FROM fs12 s LEFT JOIN flabels l ON l.id = s.doc_id
  WHERE coalesce(l.cluster_id, s.doc_id) = s.doc_id
), ftt AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
  FROM fs123 WHERE lang = 'en' AND length(trim(text)) > 0
), ftbig AS (
  SELECT t[i] AS c, t[i+1] AS w
  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
        FROM ftt WHERE len(t) >= 2)
), ftbc AS (SELECT c, w, count(*) AS cwt FROM ftbig GROUP BY 1, 2
), ftcc AS (SELECT c, count(*) AS cct FROM ftbig GROUP BY 1
), ftv AS (
  SELECT CAST(count(DISTINCT tok) + 1 AS BIGINT) AS vt
  FROM (SELECT unnest(t) AS tok FROM ftt)
), frt AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
  FROM fs123 WHERE length(trim(text)) > 0
), frbig AS (
  SELECT t[i] AS c, t[i+1] AS w
  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
        FROM frt WHERE len(t) >= 2)
), frbc AS (SELECT c, w, count(*) AS cwr FROM frbig GROUP BY 1, 2
), frcc AS (SELECT c, count(*) AS ccr FROM frbig GROUP BY 1
), frv AS (
  SELECT CAST(count(DISTINCT tok) + 1 AS BIGINT) AS vr
  FROM (SELECT unnest(t) AS tok FROM frt)
), fsb AS (
  SELECT doc_id, t[i] AS c, t[i+1] AS w
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM fs123 WHERE length(trim(text)) > 0) s,
       LATERAL (SELECT unnest(generate_series(1, len(s.t)-1)) AS i)
  WHERE len(t) >= 2
), fscored AS (
  SELECT fsb.doc_id,
         CASE WHEN ftcc.cct IS NULL
              THEN CAST(1 AS DOUBLE) / CAST(ftv.vt AS DOUBLE)
              ELSE CAST(coalesce(ftbc.cwt, 0) + 1 AS DOUBLE)
                   / CAST(ftcc.cct + ftv.vt AS DOUBLE)
         END AS pt,
         CASE WHEN frcc.ccr IS NULL
              THEN CAST(1 AS DOUBLE) / CAST(frv.vr AS DOUBLE)
              ELSE CAST(coalesce(frbc.cwr, 0) + 1 AS DOUBLE)
                   / CAST(frcc.ccr + frv.vr AS DOUBLE)
         END AS pr
  FROM fsb LEFT JOIN ftbc USING (c, w) LEFT JOIN ftcc USING (c)
           LEFT JOIN frbc USING (c, w) LEFT JOIN frcc USING (c)
           CROSS JOIN ftv CROSS JOIN frv
), fw AS (
  SELECT doc_id,
         CAST(sum(CAST(floor(ln(pt) * CAST(1000000 AS DOUBLE)) AS BIGINT)
              - CAST(floor(ln(pr) * CAST(1000000 AS DOUBLE)) AS BIGINT))
              AS BIGINT) AS lw
  FROM fscored GROUP BY doc_id
), ftop AS (
  SELECT doc_id FROM fw ORDER BY lw DESC, doc_id LIMIT 100
)
SELECT d.doc_id,
       CASE WHEN NOT c.c4_ok THEN 'c4_rules'
            WHEN g.gopher_ok IS NOT TRUE THEN 'gopher_rules'
            WHEN coalesce(l.cluster_id, d.doc_id) <> d.doc_id
              THEN 'near_duplicate'
            WHEN t.doc_id IS NULL THEN 'dsir_low'
            ELSE 'keep' END AS verdict
FROM documents d
JOIN fc4 c ON c.doc_id = d.doc_id
LEFT JOIN fgop g ON g.doc_id = d.doc_id
LEFT JOIN flabels l ON l.id = d.doc_id
LEFT JOIN ftop t ON t.doc_id = d.doc_id"""


def _funnel_run(spark, sf_dir, pair_fn):
    """The curation funnel's shared Spark staging — mutations, C4,
    Gopher, min-label clustering, DSIR top-100, and the first-failing-
    stage verdict — parameterized by the pair-producing near-dup stage
    (``pair_fn(s12) -> (id_a, id_b)``).  BOTH funnel entries call this
    one body, the Spark-side mirror of the v3 oracle being SPLICED from
    the v2 constant: neither side's shared stages can drift (review
    r9)."""
    from .pipeline.dedup import dedup_clusters
    from .pipeline.lm import dsir_log_weights, train_bigram_lm
    from .pipeline.text import c4_clean, gopher_quality_flags

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    mut = docs.select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 17 == 0, F.concat("text", F.lit(" {code}"))
        )
        .when(
            F.col("doc_id") % 17 == 1,
            F.concat(F.lit("lorem ipsum "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    c4 = c4_clean(mut, min_kept_lines=0).select(
        "doc_id", F.col("keep_doc").alias("c4_ok")
    )
    gf = gopher_quality_flags(
        mut.join(c4.filter("c4_ok"), "doc_id", "left_semi")
    )
    gop = gf.select(
        "doc_id",
        (
            F.col("r_word_count")
            & F.col("r_mean_word_len")
            & F.col("r_hash_ratio")
            & F.col("r_ellipsis_ratio")
            & F.col("r_bullet_lines")
            & F.col("r_ellipsis_lines")
            & F.col("r_alpha_words")
        ).alias("gopher_ok"),
    )
    s12 = (
        mut.join(c4.filter("c4_ok"), "doc_id", "left_semi")
        .join(gop.filter("gopher_ok"), "doc_id", "left_semi")
        .select("doc_id", "lang", "text")
    )
    pairs = pair_fn(s12)
    labels = dedup_clusters(s12, pairs).select(
        F.col("doc_id").alias("l_id"), "cluster_id"
    )
    s123 = s12.join(
        labels.filter("cluster_id = l_id").select(
            F.col("l_id").alias("doc_id")
        ),
        "doc_id",
        "left_semi",
    )
    t_lm = train_bigram_lm(s123.filter("lang = 'en'"))
    r_lm = train_bigram_lm(s123)
    top = (
        dsir_log_weights(s123, t_lm, r_lm)
        .orderBy(F.col("logw_micronats").desc(), F.col("doc_id").asc())
        .limit(100)
        .select("doc_id", F.lit(True).alias("in_top"))
    )
    verdict = (
        F.when(~F.col("c4_ok"), "c4_rules")
        .when(
            ~F.coalesce(F.col("gopher_ok"), F.lit(False)), "gopher_rules"
        )
        .when(
            F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            != F.col("doc_id"),
            "near_duplicate",
        )
        .when(F.col("in_top").isNull(), "dsir_low")
        .otherwise("keep")
    )
    return (
        docs.select("doc_id")
        .join(c4.select("doc_id", "c4_ok"), "doc_id")
        .join(gop, "doc_id", "left")
        .join(labels, F.col("doc_id") == F.col("l_id"), "left")
        .join(top, "doc_id", "left")
        .select("doc_id", verdict.alias("verdict"))
    )


def _funnel_v3_oracle(
    num_perm: int = 128, bands: int = 32, threshold: float = 0.8
) -> str:
    """The PRODUCTION funnel composition, fully replayed: identical C4 →
    Gopher → cluster → DSIR staging to `_FUNNEL_V2_ORACLE`, with the
    near-dup stage spliced from exact char-trigram Jaccard to banded
    md5 MinHash-LSH over the shared `_minhash_sig_ctes` prefix (source
    = the fs12 survivor slice; banding as per-band signature-slice
    equality; candidates thresholded on the SIGNATURE-estimated
    Jaccard — the production criterion, deterministic in both
    engines).  Built by splicing the v2 constant so the other five
    stages literally cannot drift between the two entries."""
    est = _minhash_est(num_perm)
    block = f"""), {_minhash_sig_ctes(num_perm, src="fs12")}, fpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
  WHERE ({_minhash_band_conds(num_perm, bands)})
    AND {est} >= {threshold}
"""
    i = _FUNNEL_V2_ORACLE.index("), fgrams AS (")
    j = _FUNNEL_V2_ORACLE.index("), fedges AS (")
    return _FUNNEL_V2_ORACLE[:i] + block + _FUNNEL_V2_ORACLE[j:]


@query("corpus_curation_funnel_v3", _funnel_v3_oracle())
def corpus_curation_funnel_v3(spark, sf_dir):
    """The curation funnel's PRODUCTION composition as a first-class
    ORACLED entry (the r9 `--capstones` probe ran this shape probe-only;
    here the whole thing value-hashes): C4 rules → Gopher shape rules →
    banded MinHash-LSH near-duplicate clustering (128 md5 permutations,
    32 bands, signature-estimated Jaccard ≥ 0.8 — the detector whose
    candidate volume is bounded by banding rather than by the gram
    alphabet, so it survives corpora where the exact-trigram stage of
    `corpus_curation_funnel_v2` degenerates; measured head-to-head in
    SCALING.md round-9) → DSIR top-100, with per-document
    first-failing-stage attribution.  Identical staging, mutations, and
    verdict CASE to v2 — the v3 oracle is SPLICED from the v2 constant
    with only the pair stage swapped, so the two entries' shared stages
    cannot drift.  Scale shape: the near-dup stage shuffles narrow
    (id, bucket) rows only; everything else as v2."""
    from .pipeline.dedup import minhash_dedup_pairs

    return _funnel_run(
        spark,
        sf_dir,
        # THE swap vs v2: banded MinHash-LSH (md5 — the oracled hash
        # family) in place of exact char-trigram Jaccard
        lambda s12: minhash_dedup_pairs(s12, threshold=0.8).select(
            "id_a", "id_b"
        ),
    )


@query("corpus_curation_funnel_v2", _FUNNEL_V2_ORACLE)
def corpus_curation_funnel_v2(spark, sf_dir):
    """Curation funnel upgraded to the round-7 state-of-the-art stages
    (VERDICT r7 ask #5): every document gets its FIRST-FAILING-STAGE
    verdict through C4 rules → Gopher shape rules → near-duplicate
    clustering (char-trigram Jaccard ≥ 0.8 over the survivors, min-label
    representatives) → DSIR top-100 selection (target = surviving
    English docs, raw = all survivors).  Per-doc attribution, not just
    counts, so the exact stage mix value-hashes.

    Corpus-fit configuration (each documented, all mirrored in the
    oracle): the synthetic corpus has no terminal-punctuation lines, so
    the C4 stage runs with ``min_kept_lines=0`` — the gate reduces to
    C4's document-level lorem-ipsum/curly-brace flags and downstream
    stages consume the raw text; those flags never fire naturally here,
    so 2/17 of documents get a deterministic adversarial mutation (a
    ``{code}`` suffix / ``lorem ipsum`` prefix — the ``bpe_encode_oov``
    injection precedent) to keep the stage non-vacuous; and the Gopher
    gate uses the 7 shape rules, excluding the stopword rule (the
    corpus vocabulary contains only one of the 8 canonical stopwords,
    which would blank the corpus).  Every stage is non-vacuous at every
    gate SF.  Composes four shipped operator families; the oracle
    replays all four stages including both LM trainings and the
    recursive-CTE clustering.  Scale shape: C4+Gopher are shuffle-free
    projections, clustering and DSIR run on the (already filtered)
    survivor set, selection is TakeOrderedAndProject.

    SCALE GUARD (VERDICT r9 ask #3): this composition's exact-trigram
    near-dup stage is gate-corpus-sized BY CONSTRUCTION — the synthetic
    trigram alphabet is tiny, so the stage takes the all-pairs bitmap
    plan, measured exhausting 31 GB of shuffle spill at 30k docs
    (SCALING.md round-9).  The ``max_candidate_pairs`` budget below
    (50M ≈ 4× the sf0.1 gate volume of 12.5M pairs) makes the
    degenerate shape fail FAST with a typed
    :class:`~interference_spark.pipeline.dedup.CandidateVolumeExceeded`
    pointing at :func:`corpus_curation_funnel_v3`, whose banded
    MinHash-LSH stage is the production-scale detector."""
    from .pipeline.dedup import ngram_jaccard_pairs

    return _funnel_run(
        spark,
        sf_dir,
        lambda s12: ngram_jaccard_pairs(
            s12, n=3, threshold=0.8, max_candidate_pairs=50_000_000
        ),
    )


@query(
    "mm_feature_extract",
    """SELECT doc_id AS media_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
              upper(hex(substring(text, 1, 8))) AS head_hex,
              CAST(octet_length(encode(text)) // 256 + 1 AS BIGINT) AS n_frames
       FROM documents""",
)
def mm_feature_extract(spark, sf_dir):
    """Multimodal plumbing: text bytes as a stand-in binary payload, decoded
    by the deterministic fake decoder through the real mapInPandas path."""
    from .pipeline.multimodal import feature_extract, with_binary_payload

    e = engine_for(spark, sf_dir)
    media = with_binary_payload(e.table("documents"), "text", "doc_id")
    return feature_extract(media, decoder="fake", frame_bytes=256)


@query(
    "mm_resize",
    """SELECT doc_id AS media_id,
              CAST((octet_length(encode(text)) + 1) // 2 AS BIGINT) AS byte_len,
              CAST(((octet_length(encode(text)) + 1) // 2) // 256 + 1 AS BIGINT) AS n_frames
       FROM documents""",
)
def mm_resize(spark, sf_dir):
    """Resize plumbing (binary-in/binary-out mapInPandas), verified through
    the feature extractor: resized payload keeps every 2nd byte, so
    byte_len = ceil(n/2) — the oracle checks the arithmetic end to end."""
    from .pipeline.multimodal import feature_extract, resize, with_binary_payload

    e = engine_for(spark, sf_dir)
    media = with_binary_payload(e.table("documents"), "text", "doc_id")
    return feature_extract(
        resize(media, scale_div=2), decoder="fake", frame_bytes=256
    ).select("media_id", "byte_len", "n_frames")


@query(
    "mm_frame_sample",
    """WITH f AS (
         SELECT doc_id, octet_length(encode(text)) AS n,
                unnest(generate_series(0, octet_length(encode(text)) // 256, 4)) AS fi
         FROM documents
       )
       SELECT doc_id AS media_id, CAST(fi AS BIGINT) AS frame_idx,
              CAST(least(256, n - fi * 256) AS BIGINT) AS frame_len
       FROM f""",
)
def mm_frame_sample(spark, sf_dir):
    """Frame sampling (row-expanding mapInPandas: media → every 4th
    256-byte frame); the oracle recomputes frame indexes and lengths with a
    lateral generate_series."""
    from .pipeline.multimodal import frame_sample, with_binary_payload

    e = engine_for(spark, sf_dir)
    media = with_binary_payload(e.table("documents"), "text", "doc_id")
    return frame_sample(media, frame_bytes=256, stride=4).select(
        "media_id", "frame_idx", F.length("frame").cast("long").alias("frame_len")
    )


# =====================================================================
# Streaming (CEP) + PROCESS — executed to completion, results as DataFrame
# =====================================================================

def _copy_events_managed(spark, sf_dir: str, prefix: str):
    """Copy the events table into a managed stream table as ONE id-ordered
    part file: a single micro-batch whose in-batch sort gives exact arrival
    order (the reference's @Id-order assumption; at scale, ingestion is
    naturally id-ordered because ids are generated at append time)."""
    import uuid

    from .dml import store

    e = engine_for(spark, sf_dir)
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    src = e.table("events")
    # normalize TIMESTAMP_NTZ (how some SFs' parquet reads) to TIMESTAMP:
    # event-time ops (withWatermark, windows) require TIMESTAMP, and with
    # the session timezone pinned to UTC the cast is a pure reinterpretation
    from pyspark.sql import types as _T

    for f in src.schema.fields:
        if isinstance(f.dataType, _T.TimestampNTZType):
            src = src.withColumn(f.name, F.col(f.name).cast("timestamp"))
    td = e.register_table(name, src.schema, id_col="event_id", nocheck=True)
    store.append_df(td, src.coalesce(1).sortWithinPartitions("event_id"))
    return e, name


@query(
    "sessionize_users",
    """WITH o AS (
         SELECT user_id, ts, value,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         FROM events
       ), marked AS (
         SELECT user_id, ts, value,
                CASE WHEN prev IS NULL
                          OR epoch(ts) - epoch(prev) >= 1800 THEN 1 ELSE 0 END AS new_s
         FROM o
       ), runs AS (
         SELECT user_id, ts, value,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
         FROM marked
       )
       SELECT user_id, count(*) AS n_events,
              CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
              CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
       FROM runs GROUP BY user_id, sid""",
)
def sessionize_users(spark, sf_dir):
    """Per-user sessionization (30-minute gap) via native session_window —
    the oracle rebuilds sessions with a lag + cumulative-sum run id."""
    from .streaming.windows import sessionize

    e = engine_for(spark, sf_dir)
    out = sessionize(
        e.table("events"), "ts", ("user_id",), gap="30 minutes", value_col="value"
    )
    return out.select(
        "user_id", "n_events",
        _epoch(F.col("__start")).alias("start_epoch"), "sum_value",
    )


@query(
    "stream_stream_join",
    """SELECT c.event_id AS click_id, p.event_id AS purch_id,
              c.user_id AS user_id,
              CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
              CAST(floor(epoch(p.ts)) AS BIGINT) AS purch_epoch
       FROM events c JOIN events p ON c.user_id = p.user_id
       WHERE c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""",
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream interval join (click→purchase attribution within 1 h,
    per user): two readStream sources joined with watermarks bounding both
    state buffers. Run to completion with availableNow; the oracle is the
    equivalent batch interval self-join."""
    import uuid

    from .streaming.windows import stream_stream_interval_join

    e, name = _copy_events_managed(spark, sf_dir, "EvSSJ")
    td = e.catalog.get(name)

    def src():
        return spark.readStream.schema(td.require_schema()).parquet(td.path)

    clicks = src().filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = src().filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purch_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purch_ts"),
    )
    joined = stream_stream_interval_join(
        clicks,
        purchases,
        key="user_id",
        right_key="p_user_id",
        left_ts="click_ts",
        right_ts="purch_ts",
        max_delay="1 hour",
        watermark="2 hours",
    )
    qname = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(qname).select(
        "click_id", "purch_id", "user_id",
        _epoch("click_ts").alias("click_epoch"),
        _epoch("purch_ts").alias("purch_epoch"),
    )
    return spark.createDataFrame(out.collect(), out.schema)


@query(
    "stream_into_materialize",
    """SELECT event_id AS eevent_id, user_id AS euser_id, value AS evalue
       FROM events WHERE event_type = 'click'""",
)
def stream_into_materialize(spark, sf_dir):
    """Chained CEP, driver-gated: a SELECT STREAM filter materialized into
    a second managed table via ``Session.stream_into`` (committed appends
    per micro-batch), then the TARGET TABLE's contents are the result —
    the oracle is the equivalent batch filter over the source."""
    import uuid

    e, name = _copy_events_managed(spark, sf_dir, "EvInto")
    target = f"EvIntoT_{uuid.uuid4().hex[:8]}"
    e.register_table(
        target, "eevent_id long, euser_id long, evalue double",
        id_col="eevent_id",
    )
    s = e.session()
    h = s.stream_into(
        f"select stream e.event_id, e.user_id, e.value from {name} e "
        f"where e.event_type = 'click'",
        target,
    )
    try:
        h.process_all_available()
    finally:
        h.stop()
    return e.table(target).select("eevent_id", "euser_id", "evalue")


@query(
    "stream_event_time_hourly",
    """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_epoch,
              event_type, count(*) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
       FROM events GROUP BY date_trunc('hour', ts), event_type""",
)
def stream_event_time_hourly(spark, sf_dir):
    """Event-time tumbling windows over the STREAMING path (beyond-reference
    C5): native window() aggregate, availableNow run-to-completion in
    complete mode; the oracle is the equivalent batch rollup."""
    import uuid

    from .streaming.windows import event_time_rollup

    e, name = _copy_events_managed(spark, sf_dir, "EvTime")
    td = e.catalog.get(name)
    sdf = spark.readStream.schema(td.require_schema()).parquet(td.path)
    agg = event_time_rollup(
        sdf, "ts", "1 hour", keys=("event_type",), value_col="value"
    )
    qname = f"et_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(qname).select(
        _epoch(F.col("window.start")).alias("bucket_epoch"),
        "event_type", "n_events", "sum_value",
    )
    # materialize: the memory sink table is tied to the (stopped) query
    return spark.createDataFrame(out.collect(), out.schema)


@query(
    "stream_event_time_sliding",
    """WITH e AS (
         SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, value FROM events
       ), x AS (
         SELECT ((t // 1800) - k) * 1800 AS w_start, value
         FROM e CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k) ks
       )
       SELECT w_start, CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
       FROM x GROUP BY w_start""",
)
def stream_event_time_sliding(spark, sf_dir):
    """Sliding event-time windows (1 h window, 30 min slide) over the
    streaming path: each event lands in 2 overlapping windows. The oracle
    expands the fan-out arithmetically — window starts are the slide
    multiples ((t div 1800) - k)·1800, k ∈ {0,1}, matching Spark's
    epoch-aligned window() expansion exactly."""
    import uuid

    from .streaming.windows import event_time_rollup

    e, name = _copy_events_managed(spark, sf_dir, "EvSlideT")
    td = e.catalog.get(name)
    sdf = spark.readStream.schema(td.require_schema()).parquet(td.path)
    agg = event_time_rollup(
        sdf, "ts", "1 hour", value_col="value", slide="30 minutes"
    )
    qname = f"ets_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(qname).select(
        _epoch(F.col("window.start")).alias("w_start"), "n_events", "sum_value"
    )
    return spark.createDataFrame(out.collect(), out.schema)


@query(
    "stream_snapshot_filter",
    """SELECT event_id AS eevent_id, user_id AS euser_id, value AS evalue
       FROM events WHERE event_type = 'error'""",
)
def stream_snapshot_filter(spark, sf_dir):
    """SELECT STREAM filter/projection (C1): snapshot of existing rows via
    the file-source; run to completion and materialize the queue."""
    e, name = _copy_events_managed(spark, sf_dir, "EvSnap")
    s = e.session()
    sq = s.execute(
        f"select stream e.event_id, e.user_id, e.value from {name} e "
        f"where e.event_type = 'error'"
    )
    try:
        rows = sq.drain_available()
    finally:
        sq.stop()
    return spark.createDataFrame(
        [(r["eevent_id"], r["euser_id"], r["evalue"]) for r in rows],
        "eevent_id long, euser_id long, evalue double",
    )


@query(
    "stream_enrich_join",
    """SELECT e.event_id AS eevent_id, e.user_id AS euser_id,
              c.c_name AS cc_name
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       WHERE e.event_type = 'purchase'""",
)
def stream_enrich_join(spark, sf_dir):
    """Stream-static dimension join (EXTENSION over the reference's
    single-table streams, SURVEY §2.10): the customer dim is the static
    broadcast side, the event stream flows through the equi-join per
    micro-batch — the standard enrich-the-stream pattern."""
    e, name = _copy_events_managed(spark, sf_dir, "EvJoin")
    s = e.session()
    sq = s.execute(
        f"select stream e.event_id, e.user_id, c.c_name from {name} e, customer c "
        f"where e.user_id = c.c_custkey and e.event_type = 'purchase'"
    )
    try:
        rows = sq.drain_available()
    finally:
        sq.stop()
    return spark.createDataFrame(
        [(r["eevent_id"], r["euser_id"], r["cc_name"]) for r in rows],
        "eevent_id long, euser_id long, cc_name string",
    )


@query(
    "stream_distinct",
    """SELECT DISTINCT user_id AS euser_id, event_type AS eevent_type
       FROM events""",
)
def stream_distinct(spark, sf_dir):
    """SELECT STREAM DISTINCT: stateful dropDuplicates — each (user, type)
    combination emitted on first occurrence, deduped across micro-batches
    via the state store (the reference parses DISTINCT but never executes
    it; we implement it on streams too)."""
    e, name = _copy_events_managed(spark, sf_dir, "EvDist")
    s = e.session()
    sq = s.execute(
        f"select stream distinct e.user_id, e.event_type from {name} e"
    )
    try:
        rows = sq.drain_available()
    finally:
        sq.stop()
    return spark.createDataFrame(
        [(r["euser_id"], r["eevent_type"]) for r in rows],
        "euser_id long, eevent_type string",
    )


@query(
    "stream_tumbling_keychange",
    """WITH o AS (
         SELECT event_id, event_type, user_id,
                lag(event_type) OVER (ORDER BY event_id) AS prev
         FROM events
       ), runs AS (
         SELECT event_id, event_type, user_id,
                sum(CASE WHEN prev IS NULL OR event_type <> prev THEN 1 ELSE 0 END)
                    OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS run_id
         FROM o
       )
       SELECT CAST(count(event_id) AS BIGINT) AS cnt,
              CAST(sum(user_id) AS BIGINT) AS sum_uid,
              event_type AS eevent_type
       FROM runs WHERE run_id <> (SELECT max(run_id) FROM runs)
       GROUP BY run_id, event_type""",
)
def stream_tumbling_keychange(spark, sf_dir):
    """Tumbling = emit on group-key change in @Id order (A10/C2); the final
    open run is never emitted — the oracle's gap-and-islands query excludes
    the last island identically."""
    e, name = _copy_events_managed(spark, sf_dir, "EvTum")
    s = e.session()
    sq = s.execute(
        f"select stream count(e.event_id) cnt, sum(e.user_id) sum_uid, "
        f"e.event_type from {name} e group by e.event_type"
    )
    try:
        rows = sq.drain_available()
    finally:
        sq.stop()
    return spark.createDataFrame(
        [(r["cnt"], r["sum_uid"], r["eevent_type"]) for r in rows],
        "cnt long, sum_uid long, eevent_type string",
    )


@query(
    "stream_sliding_count_window",
    """SELECT cnt, sum_uid, mn FROM (
         SELECT CAST(count(event_id) OVER w AS BIGINT) AS cnt,
                CAST(sum(user_id) OVER w AS BIGINT) AS sum_uid,
                min(value) OVER w AS mn,
                row_number() OVER (ORDER BY event_id) AS rn
         FROM events
         WINDOW w AS (ORDER BY event_id ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
       ) WHERE rn >= 100""",
)
def stream_sliding_count_window(spark, sf_dir):
    """Streaming WINDOW BY (A11/C3): per-arrival aggregate over the last-n
    ring buffer the driver emitter keeps per epoch beside the checkpoint —
    same emissions as the batch window-frame formulation, so they share an
    oracle."""
    e, name = _copy_events_managed(spark, sf_dir, "EvSlide")
    s = e.session()
    sq = s.execute(
        f"select stream count(e.event_id) cnt, sum(e.user_id) sum_uid, "
        f"min(e.value) mn from {name} e window by e.event_id interval = 100"
    )
    try:
        rows = sq.drain_available()
    finally:
        sq.stop()
    return spark.createDataFrame(
        [(r["cnt"], r["sum_uid"], r["mn"]) for r in rows],
        "cnt long, sum_uid long, mn double",
    )


@query(
    "stream_watermark_dedup",
    """SELECT k_user, k_type FROM (
         SELECT DISTINCT user_id AS k_user, event_type AS k_type FROM events
         UNION ALL
         SELECT DISTINCT user_id AS k_user, event_type AS k_type FROM events
         UNION ALL
         SELECT CAST(-1 AS BIGINT) AS k_user, 'tick' AS k_type
       )""",
)
def stream_watermark_dedup(spark, sf_dir):
    """Event-time dedup-within-watermark (C5 extension —
    `streaming/windows.stream_dedup_within_watermark`, Spark's
    ``dropDuplicatesWithinWatermark``): first occurrence per
    (user, event_type) emits, duplicates within the watermark delay are
    dropped, and state for a key is EVICTED once the watermark passes it
    — bounded state, the exactly-once-ingest building block a 100 TB
    stream needs (plain dropDuplicates remembers every key forever).

    The run is three single-file micro-batches so the watermark schedule
    is deterministic: (1) the events snapshot → one emission per distinct
    key; (2) a far-future tick row → the batch-end watermark passes every
    phase-1 expiry (tick is 2 h past max ts, delay is 10 min); (3) the
    same keys again with timestamps shifted past the watermark → all
    re-emit, PROVING eviction (a global-distinct implementation would
    emit nothing here, and a late-row replay would be watermark-dropped —
    the shift keeps phase 3 on-time).  Output = each distinct key twice
    plus the tick, which is exactly what the oracle's two-DISTINCT union
    computes.  Only key columns are projected: which physical duplicate
    row arrives first inside a batch is not deterministic, its key is."""
    import datetime as _dt
    import os
    import uuid as _uuid

    from .streaming.windows import stream_dedup_within_watermark

    e = engine_for(spark, sf_dir)
    ev = e.table("events").select("user_id", "event_type", "ts")
    bounds = ev.agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    ).first()
    tick_ts = bounds["mx"] + _dt.timedelta(hours=2)
    # phase-3 times must clear the post-tick watermark (tick - 10 min)
    shift = (tick_ts - bounds["mn"]) + _dt.timedelta(hours=1)

    src = os.path.join(e.warehouse, f"wmdedup_{_uuid.uuid4().hex[:8]}")
    ck = src + "_ck"
    qname = f"wmdedup_{_uuid.uuid4().hex[:8]}"
    schema = "user_id long, event_type string, ts timestamp"

    def write_phase(df):
        df.coalesce(1).write.mode("append").parquet(src)

    write_phase(ev)
    sdf = spark.readStream.schema(schema).parquet(src)
    out = stream_dedup_within_watermark(
        sdf, ("user_id", "event_type"), "ts", watermark="10 minutes"
    ).select(
        F.col("user_id").alias("k_user"), F.col("event_type").alias("k_type")
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        write_phase(
            spark.createDataFrame([(-1, "tick", tick_ts)], schema)
        )
        q.processAllAvailable()
        write_phase(ev.withColumn("ts", F.col("ts") + F.lit(shift)))
        q.processAllAvailable()
        rows = [
            (r["k_user"], r["k_type"])
            for r in spark.table(qname).collect()
        ]
    finally:
        q.stop()
        import shutil

        # the result is fully collected; drop the throwaway source +
        # checkpoint dirs so repeated runs don't accumulate in the warehouse
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
    return spark.createDataFrame(rows, "k_user long, k_type string")


@query(
    "process_within_consume",
    """SELECT event_id, event_type FROM events WHERE event_type <> 'click'""",
)
def process_within_consume(spark, sf_dir):
    """PROCESS t WITHIN ep WHERE ... (D11): visit matching rows distributed,
    delete consumed ones; returns the surviving table."""
    e, name = _copy_events_managed(spark, sf_dir, "EvProc")

    def make():
        class ConsumeClicks:
            def process(self, row) -> bool:
                return True

            def delete(self) -> bool:
                return True

        return ConsumeClicks

    e.register_processor("ConsumeClicks", make())
    s = e.session()
    s.execute(f"process {name} e within ConsumeClicks where e.event_type = 'click'")
    return e.table(name).select("event_id", "event_type")


@query(
    "text_repetition",
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         FROM documents
       ), wc AS (
         SELECT doc_id, w, count(*) AS c
         FROM (SELECT doc_id, unnest(tk) AS w FROM t) GROUP BY doc_id, w
       ), words AS (
         SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct,
                max(c) AS top_c
         FROM wc GROUP BY doc_id
       ), bc AS (
         SELECT doc_id, g, count(*) AS c
         FROM (SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS g
               FROM (SELECT doc_id, tk,
                            unnest(generate_series(1, len(tk) - 1)) AS i
                     FROM t) s) GROUP BY doc_id, g
       ), bigrams AS (
         SELECT doc_id, sum(c) AS n_bigrams, count(*) AS n_distinct_bigrams
         FROM bc GROUP BY doc_id
       )
       SELECT w.doc_id AS doc_id, CAST(w.n_words AS BIGINT) AS n_words,
              (CAST(w.n_words AS DOUBLE) - CAST(w.n_distinct AS DOUBLE))
                / CAST(w.n_words AS DOUBLE) AS dup_word_ratio,
              CAST(w.top_c AS DOUBLE) / CAST(w.n_words AS DOUBLE)
                AS top_word_ratio,
              (CAST(coalesce(b.n_bigrams, 0) AS DOUBLE)
                 - CAST(coalesce(b.n_distinct_bigrams, 0) AS DOUBLE))
                / CAST(CASE WHEN coalesce(b.n_bigrams, 0) = 0 THEN 1
                            ELSE b.n_bigrams END AS DOUBLE) AS dup_bigram_ratio
       FROM words w LEFT JOIN bigrams b USING (doc_id)""",
)
def text_repetition(spark, sf_dir):
    """Gopher-style within-document repetition quality signals: duplicate-
    word / top-word / duplicate-bigram ratios. Explode → (doc, token) →
    doc two-level aggregate; both shuffles combiner-friendly."""
    from .pipeline.text import repetition_features
    from .pipeline import ensure_parallelism

    e = engine_for(spark, sf_dir)
    return repetition_features(ensure_parallelism(e.table("documents")))


@query(
    "decontaminate_ngrams",
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         FROM documents
       ), g AS (
         SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS g
         FROM (SELECT doc_id, tk,
                      unnest(generate_series(1, len(tk) - 7)) AS i FROM t) s
       )
       SELECT DISTINCT doc_id FROM g
       WHERE doc_id % 97 <> 0
         AND g IN (SELECT g FROM g WHERE doc_id % 97 = 0)""",
)
def decontaminate_ngrams(spark, sf_dir):
    """Test-set decontamination: candidate docs sharing any word 8-gram with
    a held-out eval slice (here: doc_id % 97 = 0). Eval n-grams broadcast;
    the corpus side joins map-only (left-semi) — the 100 TB side never
    shuffles its text."""
    from .pipeline.text import contaminated_doc_ids
    from .pipeline import ensure_parallelism

    e = engine_for(spark, sf_dir)
    docs = ensure_parallelism(e.table("documents"))
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    cand = docs.filter(F.col("doc_id") % 97 != 0)
    return contaminated_doc_ids(cand, ev, n=8)


@query(
    "text_typicality",
    """WITH occ AS (
         SELECT doc_id, substring(text, i.i, 2) AS bg
         FROM documents CROSS JOIN LATERAL (
           SELECT unnest(generate_series(1, greatest(length(text) - 1, 1))) AS i
         ) i
       ), c AS (
         SELECT bg, count(*) AS cnt FROM occ GROUP BY bg
       ), t AS (
         SELECT sum(cnt) AS tot FROM c
       ), qf AS (
         SELECT bg, CAST(floor(cnt * 1000000 / tot) AS BIGINT) AS qf
         FROM c CROSS JOIN t
       )
       SELECT occ.doc_id AS doc_id, count(*) AS n_bigrams,
              CAST(floor(CAST(sum(qf.qf) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS typicality
       FROM occ JOIN qf USING (bg) GROUP BY occ.doc_id""",
)
def text_typicality(spark, sf_dir):
    """Corpus-typicality quality signal (`pipeline/text.
    char_bigram_typicality`): a log-free perplexity proxy — average corpus
    frequency of the doc's character bigrams, integer arithmetic end to
    end. Low scores flag mojibake/binary/foreign-script outliers."""
    from .pipeline.text import char_bigram_typicality

    e = engine_for(spark, sf_dir)
    return char_bigram_typicality(e.table("documents"))


@query(
    "decontaminate_report",
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         FROM documents
       ), g AS (
         SELECT DISTINCT doc_id, array_to_string(tk[i:i+7], ' ') AS g
         FROM (SELECT doc_id, tk,
                      unnest(generate_series(1, len(tk) - 7)) AS i FROM t) s
       )
       SELECT c.doc_id AS doc_id, e.doc_id AS eval_id,
              count(*) AS n_shared_grams
       FROM g c JOIN g e ON c.g = e.g
       WHERE c.doc_id % 97 <> 0 AND e.doc_id % 97 = 0
       GROUP BY c.doc_id, e.doc_id""",
)
def decontaminate_report(spark, sf_dir):
    """Contamination ATTRIBUTION (`pipeline/text.contamination_report`):
    which eval doc leaked into which candidate doc and how many distinct
    8-grams they share — the evidence table behind the boolean scrub.
    Eval (gram, id) pairs broadcast; corpus side joins map-only."""
    from .pipeline.text import contamination_report

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    cand = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_report(cand, ev, n=8)


@query(
    "decontaminate_bloom",
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         FROM documents
       ), g AS (
         SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS g
         FROM (SELECT doc_id, tk,
                      unnest(generate_series(1, len(tk) - 7)) AS i FROM t) s
       ), bg AS (
         SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0
       ), bp AS (
         SELECT ('0x' || substring(md5('bl0:' || g), 1, 13))::BIGINT % 262144 AS h0,
                ('0x' || substring(md5('bl1:' || g), 1, 13))::BIGINT % 262144 AS h1
         FROM bg
       ), bloom AS (
         SELECT word, bit_or(mask) AS bits FROM (
           SELECT h0 // 32 AS word, (1::BIGINT << (h0 % 32)) AS mask FROM bp
           UNION ALL
           SELECT h1 // 32, (1::BIGINT << (h1 % 32)) FROM bp
         ) GROUP BY word
       ), cp AS (
         SELECT doc_id,
                ('0x' || substring(md5('bl0:' || g), 1, 13))::BIGINT % 262144 AS h0,
                ('0x' || substring(md5('bl1:' || g), 1, 13))::BIGINT % 262144 AS h1
         FROM g WHERE doc_id % 97 <> 0
       )
       SELECT DISTINCT doc_id FROM cp
       JOIN bloom b0 ON b0.word = cp.h0 // 32
                    AND (b0.bits & (1::BIGINT << (cp.h0 % 32))) = (1::BIGINT << (cp.h0 % 32))
       JOIN bloom b1 ON b1.word = cp.h1 // 32
                    AND (b1.bits & (1::BIGINT << (cp.h1 % 32))) = (1::BIGINT << (cp.h1 % 32))""",
)
def decontaminate_bloom(spark, sf_dir):
    """Decontamination with a CONSTANT-SIZE broadcast: a 2^18-bit bloom over
    the eval slice's word 8-grams (32 KB bitmap whatever the benchmark
    suite's size) replaces the exact semi-join's unbounded gram-string
    broadcast. Corpus side stays map-only; deterministic md5 probes mean the
    oracle reproduces the identical (false-positive-inclusive) id set."""
    from .pipeline.text import bloom_contaminated_ids

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    cand = docs.filter(F.col("doc_id") % 97 != 0)
    return bloom_contaminated_ids(cand, ev, n=8)


@query(
    "asof_forward_attribution",
    """WITH l AS (
         SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
       ), r AS (
         SELECT user_id, ts, min(value) AS pval
         FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
       )
       SELECT l.event_id AS event_id,
              (SELECT r.pval FROM r
               WHERE r.user_id = l.user_id AND r.ts >= l.ts
                 AND epoch(r.ts) - epoch(l.ts) <= 300
               ORDER BY r.ts LIMIT 1) AS pval
       FROM l""",
)
def asof_forward_attribution(spark, sf_dir):
    """FORWARD as-of with tolerance (`plans/asof.as_of_join`): each view
    event attributed to the user's next purchase within 5 minutes — the
    next-event-attribution direction the backward entry cannot express,
    bounded like pandas merge_asof. Same single-shuffle union+window plan,
    sort reversed; out-of-tolerance matches null out."""
    from .plans.asof import as_of_join

    e = engine_for(spark, sf_dir)
    ev = e.table("events")
    l = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    r = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("value").alias("pval"))
    )
    return as_of_join(
        l, r, "user_id", "ts", "ts", direction="forward", tolerance_seconds=300
    ).select("event_id", "pval")


@query(
    "robust_outliers_by_type",
    """WITH h AS (
         SELECT event_type, value, count(*) AS c FROM events GROUP BY 1, 2
       ), cum AS (
         SELECT event_type, value, c,
                sum(c) OVER (PARTITION BY event_type ORDER BY value) AS cum
         FROM h
       ), t AS (
         SELECT event_type, sum(c) AS n FROM h GROUP BY event_type
       ), med AS (
         SELECT cum.event_type,
                min(CASE WHEN cum >= ceil(0.5 * t.n) THEN value END) AS med
         FROM cum JOIN t USING (event_type) GROUP BY cum.event_type
       ), dev AS (
         SELECT e.event_type, abs(e.value - med.med) AS dv, med.med
         FROM events e JOIN med USING (event_type)
       ), dh AS (
         SELECT event_type, dv, count(*) AS c FROM dev GROUP BY 1, 2
       ), dcum AS (
         SELECT event_type, dv, c,
                sum(c) OVER (PARTITION BY event_type ORDER BY dv) AS cum
         FROM dh
       ), mad AS (
         SELECT dcum.event_type,
                min(CASE WHEN cum >= ceil(0.5 * t.n) THEN dv END) AS mad,
                min(t.n) AS n
         FROM dcum JOIN t USING (event_type) GROUP BY dcum.event_type
       )
       SELECT dev.event_type AS event_type,
              CAST(min(mad.n) AS BIGINT) AS n_rows,
              min(dev.med) AS median, min(mad.mad) AS mad,
              CAST(sum(CASE WHEN dev.dv > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       FROM dev JOIN mad USING (event_type) GROUP BY dev.event_type""",
)
def robust_outliers_by_type(spark, sf_dir):
    """Robust outlier profile (`pipeline/stats.robust_outliers`): exact
    discrete median + MAD per event type and the count of values beyond
    3 MADs — the data-QA gate that survives the outliers it hunts
    (mean/stddev do not). Two exact-percentile passes, never a raw sort."""
    from .pipeline.stats import robust_outliers

    e = engine_for(spark, sf_dir)
    return robust_outliers(e.table("events"), ("event_type",), "value")


@query(
    "event_transition_matrix",
    """WITH s AS (
         SELECT user_id, event_type AS from_type,
                lead(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS to_type
         FROM events
       ), p AS (
         SELECT from_type, to_type, count(*) AS n
         FROM s WHERE to_type IS NOT NULL GROUP BY from_type, to_type
       ), t AS (
         SELECT from_type, sum(n) AS tt FROM p GROUP BY from_type
       )
       SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n,
              CAST(p.n AS DOUBLE) / CAST(t.tt AS DOUBLE) AS frac
       FROM p JOIN t USING (from_type)""",
)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams
    (`pipeline/stats.event_transitions`): the journey-analysis adjacency
    behind next-event baselines. One per-user window pass + combiner-
    friendly pair aggregate; normalizers ride the pair counts, never the
    events. Timestamp ties broken by event_id for full determinism."""
    from .pipeline.stats import event_transitions

    e = engine_for(spark, sf_dir)
    return event_transitions(e.table("events"), order_tiebreak="event_id")


@query(
    "cohort_retention_daily",
    """WITH ud AS (
         SELECT DISTINCT user_id AS u,
                CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS p
         FROM events
       ), c AS (
         SELECT u, min(p) AS c FROM ud GROUP BY u
       )
       SELECT c.c AS cohort_period, ud.p - c.c AS k, count(*) AS n_users
       FROM ud JOIN c ON ud.u = c.u
       GROUP BY c.c, ud.p - c.c""",
)
def cohort_retention_daily(spark, sf_dir):
    """Daily cohort retention matrix (`pipeline/stats.cohort_retention`):
    users bucketed by first-activity day, counted in each later day they
    return. Dedup to (user, day) first — everything downstream runs on at
    most users×days rows, never raw events."""
    from .pipeline.stats import cohort_retention

    e = engine_for(spark, sf_dir)
    return cohort_retention(e.table("events"))


@query(
    "event_funnel_conversion",
    """WITH e AS (
         SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
         FROM events
       ), a AS (
         SELECT user_id,
                list_sort(list(t) FILTER (WHERE event_type = 'view')) AS a0,
                list_sort(list(t) FILTER (WHERE event_type = 'click')) AS a1,
                list_sort(list(t) FILTER (WHERE event_type = 'purchase')) AS a2
         FROM e GROUP BY user_id
       ), s1 AS (
         SELECT user_id, a1, a2, a0[1] AS t_view FROM a
       ), s2 AS (
         SELECT user_id, a2, t_view,
                CASE WHEN t_view IS NOT NULL THEN
                  list_filter(a1, x -> x > t_view AND x <= t_view + 3600)[1]
                END AS t_click
         FROM s1
       ), s3 AS (
         SELECT user_id, t_view, t_click,
                CASE WHEN t_click IS NOT NULL THEN
                  list_filter(a2, x -> x > t_click AND x <= t_click + 3600)[1]
                END AS t_purchase
         FROM s2
       )
       SELECT user_id, t_view, t_click, t_purchase,
              (CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END
               + CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END
               + CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS reached
       FROM s3""",
)
def event_funnel_conversion(spark, sf_dir):
    """Behavioral conversion funnel (`pipeline/stats.event_funnel`): per
    user, first view → first click strictly after it within 1h → first
    purchase after that within 1h. ONE shuffle (per-user step arrays);
    the stage chain is per-row higher-order-function folds — no
    self-joins, no window over raw events."""
    from .pipeline.stats import event_funnel

    e = engine_for(spark, sf_dir)
    return event_funnel(
        e.table("events"),
        steps=("view", "click", "purchase"),
        within_seconds=3600,
    )


@query(
    "chunk_documents_rag",
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         FROM documents
       ), s AS (
         SELECT doc_id, tk, len(tk) AS n,
                CASE WHEN len(tk) <= 64 THEN 0
                     ELSE CAST(ceil(CAST(len(tk) - 64 AS DOUBLE) / 56.0) AS BIGINT) * 56
                END AS last
         FROM t
       ), c AS (
         SELECT doc_id,
                unnest(generate_series(0, last, 56)) AS start_tok, tk, n
         FROM s
       )
       SELECT doc_id,
              CAST(start_tok / 56 AS BIGINT) AS chunk_idx,
              CAST(least(64, n - start_tok) AS BIGINT) AS n_tokens,
              md5(array_to_string(tk[start_tok + 1:start_tok + 64], ' ')) AS fp
       FROM c""",
)
def chunk_documents_rag(spark, sf_dir):
    """Token-windowed chunking for RAG / context-window prep
    (`pipeline/text.chunk_documents`): 64-token windows advancing by 56
    (8-token overlap), tail kept, short docs → one chunk. Pure JVM array
    expressions — zero UDFs, zero shuffles. Chunk text is compared by md5
    fingerprint to keep the verified rows narrow."""
    from .pipeline.text import chunk_documents

    e = engine_for(spark, sf_dir)
    ch = chunk_documents(e.table("documents"), chunk_tokens=64, overlap=8)
    return ch.select(
        "doc_id", "chunk_idx", "n_tokens", F.md5(F.col("chunk")).alias("fp")
    )


@query(
    "corpus_divergence_by_lang",
    """WITH t AS (
         SELECT lang AS g, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         FROM documents
       ), gc AS (
         SELECT g, w, count(*) AS ca FROM t GROUP BY 1, 2
       ), tot AS (
         SELECT w, sum(ca) AS ct FROM gc GROUP BY 1
       ), ng AS (
         SELECT g, sum(ca) AS na FROM gc GROUP BY 1
       ), nall AS (
         SELECT count(*) AS n FROM t
       ), j AS (
         SELECT gc.g, CAST(gc.ca AS DOUBLE) / CAST(ng.na AS DOUBLE) AS pa,
                CAST(tot.ct - gc.ca AS DOUBLE) / CAST(nall.n - ng.na AS DOUBLE) AS pb
         FROM gc JOIN tot USING (w) JOIN ng USING (g) CROSS JOIN nall
       )
       SELECT g AS lang, CAST(count(*) AS BIGINT) AS slice_vocab,
              (CAST(sum(CAST(floor((pa - pb) * (pa - pb) / (pa + pb) * 1000000000000.0) AS BIGINT)) AS DOUBLE)
               + (1000000000000.0 - CAST(sum(CAST(floor(pb * 1000000000000.0) AS BIGINT)) AS DOUBLE)))
              / 1000000000000.0 AS chi2
       FROM j GROUP BY g""",
)
def corpus_divergence_by_lang(spark, sf_dir):
    """Per-language corpus drift (`pipeline/text.group_divergence`):
    chi-square divergence of each slice's token distribution vs the rest of
    the corpus. Chi-square over KL/JS deliberately — only IEEE-exact ops,
    so the quantized-long statistic is engine-reproducible (log2's last
    ULP is not)."""
    from .pipeline.text import group_divergence

    e = engine_for(spark, sf_dir)
    return group_divergence(e.table("documents"), "lang")


@query(
    "exact_value_percentiles",
    """WITH h AS (
         SELECT event_type, value, count(*) AS c
         FROM events GROUP BY event_type, value
       ), cum AS (
         SELECT event_type, value, c,
                sum(c) OVER (PARTITION BY event_type ORDER BY value) AS cum
         FROM h
       ), t AS (
         SELECT event_type, sum(c) AS n_rows FROM h GROUP BY event_type
       )
       SELECT cum.event_type AS event_type,
              CAST(min(t.n_rows) AS BIGINT) AS n_rows,
              min(CASE WHEN cum >= ceil(0.5 * t.n_rows) THEN value END) AS p50,
              min(CASE WHEN cum >= ceil(0.9 * t.n_rows) THEN value END) AS p90,
              min(CASE WHEN cum >= ceil(0.99 * t.n_rows) THEN value END) AS p99
       FROM cum JOIN t ON cum.event_type = t.event_type
       GROUP BY cum.event_type""",
)
def exact_value_percentiles(spark, sf_dir):
    """EXACT per-group percentiles (p50/p90/p99 of event value per type)
    without sorting the data: per-group (value → count) histogram, then a
    running sum windowed over histogram rows only (partitioned by group —
    parallel across groups). percentile_approx is neither exact nor
    engine-reproducible; this is both."""
    from .pipeline.stats import exact_group_percentiles

    e = engine_for(spark, sf_dir)
    return exact_group_percentiles(
        e.table("events"), ("event_type",), "value", (0.5, 0.9, 0.99)
    )


@query(
    "approx_quantile_sketch",
    """WITH h AS (
         SELECT event_type,
                least(255, greatest(0, CAST(floor(value / 3.90625) AS BIGINT))) AS bin,
                count(*) AS c
         FROM events WHERE value IS NOT NULL GROUP BY 1, 2
       ), cum AS (
         SELECT event_type, bin, c,
                sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum
         FROM h
       ), t AS (
         SELECT event_type, sum(c) AS n_rows FROM h GROUP BY event_type
       )
       SELECT cum.event_type AS event_type,
              CAST(min(t.n_rows) AS BIGINT) AS n_rows,
              min(CASE WHEN cum >= greatest(1, CAST(ceil(0.5 * t.n_rows) AS BIGINT))
                            AND cum - c < greatest(1, CAST(ceil(0.5 * t.n_rows) AS BIGINT))
                       THEN 3.90625 * (bin + CAST(greatest(1, CAST(ceil(0.5 * t.n_rows) AS BIGINT)) - (cum - c) AS DOUBLE) / CAST(c AS DOUBLE)) END) AS q_5,
              min(CASE WHEN cum >= greatest(1, CAST(ceil(0.9 * t.n_rows) AS BIGINT))
                            AND cum - c < greatest(1, CAST(ceil(0.9 * t.n_rows) AS BIGINT))
                       THEN 3.90625 * (bin + CAST(greatest(1, CAST(ceil(0.9 * t.n_rows) AS BIGINT)) - (cum - c) AS DOUBLE) / CAST(c AS DOUBLE)) END) AS q_9,
              min(CASE WHEN cum >= greatest(1, CAST(ceil(0.99 * t.n_rows) AS BIGINT))
                            AND cum - c < greatest(1, CAST(ceil(0.99 * t.n_rows) AS BIGINT))
                       THEN 3.90625 * (bin + CAST(greatest(1, CAST(ceil(0.99 * t.n_rows) AS BIGINT)) - (cum - c) AS DOUBLE) / CAST(c AS DOUBLE)) END) AS q_99
       FROM cum JOIN t ON cum.event_type = t.event_type
       GROUP BY cum.event_type""",
)
def approx_quantile_sketch(spark, sf_dir):
    """MERGEABLE approximate quantiles: fixed-width histogram sketch (256
    bins over the documented [0, 1000) value domain) + in-bin linear
    interpolation. Complements exact_value_percentiles: the sketch is
    constant-size per group regardless of data volume and its bin counts
    are additive, so per-day / per-part partial sketches merge by cell-wise
    sum — the property percentile_approx's engine-specific GK sketch cannot
    give an external verifier."""
    from .pipeline.sketch import hist_group_quantiles

    e = engine_for(spark, sf_dir)
    return hist_group_quantiles(
        e.table("events"), ("event_type",), "value", (0.5, 0.9, 0.99)
    )


@query(
    "exact_variance_by_type",
    f"""SELECT event_type,
              count(*) AS n_rows,
              ({_qsum_sql_expr("value * value")}
               - {_qsum_sql_expr("value")} * {_qsum_sql_expr("value")}
                 / CAST(count(*) AS DOUBLE))
              / (CAST(count(*) AS DOUBLE) - 1.0) AS var_value,
              sqrt(({_qsum_sql_expr("value * value")}
               - {_qsum_sql_expr("value")} * {_qsum_sql_expr("value")}
                 / CAST(count(*) AS DOUBLE))
              / (CAST(count(*) AS DOUBLE) - 1.0)) AS std_value
       FROM events GROUP BY event_type""",
)
def exact_variance_by_type(spark, sf_dir):
    """Sample variance / stddev per group with reproducible accumulation:
    float var_samp is order-dependent (different results under different
    partitionings); decimal sums are exact but the decimal→double cast
    rounds DIFFERENTLY in Spark (Java correctly-rounded) vs DuckDB
    (1-ulp divergence at >17 sig digits, measured). The quantized
    split-sum sidesteps both: per-row floor(x·1e6) quantization is
    deterministic, the BIGINT sums are exact integers convertible to
    double identically everywhere, and the variance arithmetic is one
    fixed double chain. Still one partial+final aggregation pass."""
    e = engine_for(spark, sf_dir)
    v = F.col("value")
    base = e.table("events").groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        *_qsum_parts(v, "sx"),
        *_qsum_parts(v * v, "sxx"),
    )
    n = F.col("n_rows").cast("double")
    sx = _qsum_val_expr("sx")
    sxx = _qsum_val_expr("sxx")
    var = (sxx - sx * sx / n) / (n - F.lit(1.0))
    return base.select(
        "event_type", "n_rows", var.alias("var_value"),
        F.sqrt(var).alias("std_value"),
    )


@query(
    "pii_redact",
    """WITH inj AS (
         SELECT doc_id,
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@mail.example.com or call 555-867-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                  AS text
         FROM documents)
       SELECT doc_id,
              regexp_replace(regexp_replace(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
                  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')
                AS clean_text,
              CAST(len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT)
                AS n_emails,
              CAST(len(regexp_extract_all(
                  regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS INT) AS n_phones,
              CAST(len(regexp_extract_all(
                  regexp_replace(regexp_replace(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g'),
                  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT)
                AS n_ips
       FROM inj""",
)
def pii_redact(spark, sf_dir):
    """PII scrubbing over the corpus. The synthetic documents carry no PII,
    so each doc gets DETERMINISTIC injected PII (derived from doc_id, same
    expression in the oracle) — the redaction itself is then verified
    non-vacuously. Patterns live in the Java-regex ∩ RE2 subset so both
    engines match identical spans."""
    from .pipeline.text import pii_redact as _redact

    e = engine_for(spark, sf_dir)
    injected = e.table("documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or call 555-867-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return _redact(injected)


@query(
    "boilerplate_ngrams",
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         FROM documents
       ), g AS (
         SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS g
         FROM (SELECT doc_id, tk,
                      unnest(generate_series(1, len(tk) - 2)) AS i FROM t) s
       ), boiler AS (
         SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd
                        FROM g GROUP BY g) WHERE nd >= 4
       )
       SELECT g.doc_id AS doc_id, count(*) AS n_grams,
              CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_boiler,
              CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS boiler_ratio
       FROM g LEFT JOIN boiler b ON g.g = b.g
       GROUP BY g.doc_id""",
)
def boilerplate_ngrams(spark, sf_dir):
    """Corpus-level boilerplate: word 3-grams occurring in ≥4 distinct docs
    are flagged; each doc reports total grams, boilerplate occurrences, and
    the ratio (the C4-style common-content signal, n-grams standing in for
    lines in this line-less corpus)."""
    from .pipeline.text import boilerplate_ngram_stats
    from .pipeline import ensure_parallelism

    e = engine_for(spark, sf_dir)
    return boilerplate_ngram_stats(ensure_parallelism(e.table("documents")), n=3, min_docs=4)


@query(
    "dialect_is_null",
    """WITH d AS (
         SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN NULL ELSE source END AS src
         FROM documents)
       SELECT CAST(sum(CASE WHEN src IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_null,
              CAST(sum(CASE WHEN src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_not_null,
              count(*) AS n_total
       FROM d""",
)
def dialect_is_null(spark, sf_dir):
    """IS [NOT] NULL through the dialect, end-to-end: a managed copy of
    documents with deterministically injected nulls (doc_id % 3), then two
    dialect filters whose counts must partition the table — verified
    against the same CASE injection in the oracle."""
    import uuid

    e = engine_for(spark, sf_dir)
    name = f"NullSrc_{uuid.uuid4().hex[:8]}"
    src = e.table("documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(
            F.col("source")
        ).alias("src"),
    )
    td = e.register_table(name, "doc_id long, src string", id_col="doc_id")
    from .dml import store

    store.append_df(td, src)
    s = e.session()
    n_null = s.execute(
        f"select count(d.doc_id) c from {name} d where d.src is null"
    ).collect()[0]["c"]
    n_not_null = s.execute(
        f"select count(d.doc_id) c from {name} d where d.src is not null"
    ).collect()[0]["c"]
    n_total = e.table(name).count()
    return spark.createDataFrame(
        [(n_null, n_not_null, n_total)],
        "n_null long, n_not_null long, n_total long",
    )


@query(
    "source_csv_agg",
    """SELECT count(event_id) AS cnt, CAST(sum(user_id) AS BIGINT) AS sum_uid,
              event_type AS eevent_type
       FROM events GROUP BY event_type""",
)
def source_csv_agg(spark, sf_dir):
    """S11 connector breadth, end-to-end: events round-trip through a CSV
    copy registered via ``Engine.register_external`` (explicit schema — no
    inference pass), then a dialect GROUP BY runs over the CSV source. The
    reference reads only its own frame files; Spark gives csv/json/orc/text
    for free."""
    import os
    import uuid

    e = engine_for(spark, sf_dir)
    name = f"EvCsv_{uuid.uuid4().hex[:8]}"
    path = os.path.join(e.warehouse, f"csv_{uuid.uuid4().hex[:8]}")
    (
        e.table("events")
        .select("event_id", "event_type", "user_id")
        .write.mode("overwrite")
        .option("header", "true")
        .csv(path)
    )
    e.register_external(
        name, path, format="csv",
        schema="event_id long, event_type string, user_id long",
        header="true",
    )
    return e.session().execute(
        f"select count(e.event_id) cnt, sum(e.user_id) sum_uid, e.event_type "
        f"from {name} e group by e.event_type"
    )


@query(
    "source_json_agg",
    """SELECT d.source AS dsource, count(*) AS cnt,
              CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
       FROM documents d GROUP BY d.source""",
)
def source_json_agg(spark, sf_dir):
    """S11 connector breadth: documents round-trip through JSON-lines
    registered via ``Engine.register_external`` with an explicit schema (no
    inference pass — that's a full extra scan at 100 TB), then a dialect
    GROUP BY runs over the JSON source."""
    import os
    import uuid

    e = engine_for(spark, sf_dir)
    name = f"DocJson_{uuid.uuid4().hex[:8]}"
    path = os.path.join(e.warehouse, f"json_{uuid.uuid4().hex[:8]}")
    (
        e.table("documents")
        .select("doc_id", "source", "n_chars")
        .write.mode("overwrite")
        .json(path)
    )
    e.register_external(
        name, path, format="json",
        schema="doc_id long, source string, n_chars long",
    )
    return e.session().execute(
        f"select d.source, count(d.doc_id) cnt, sum(d.n_chars) sum_chars "
        f"from {name} d group by d.source"
    )


@query(
    "source_orc_agg",
    """SELECT l.l_returnflag AS ll_returnflag, count(l.l_orderkey) AS cnt,
              CAST(sum(l.l_orderkey) AS BIGINT) AS sum_okey
       FROM lineitem l GROUP BY l.l_returnflag""",
)
def source_orc_agg(spark, sf_dir):
    """S11 connector breadth: lineitem round-trips through an ORC copy
    registered via ``Engine.register_external``, then a dialect GROUP BY
    runs over the ORC source (columnar like parquet: predicate/column
    pushdown comes free — the scan reads 2 of 11 columns)."""
    import os
    import uuid

    e = engine_for(spark, sf_dir)
    name = f"LiOrc_{uuid.uuid4().hex[:8]}"
    path = os.path.join(e.warehouse, f"orc_{uuid.uuid4().hex[:8]}")
    (
        e.table("lineitem")
        .select("l_orderkey", "l_returnflag")
        .write.mode("overwrite")
        .orc(path)
    )
    e.register_external(
        name, path, format="orc",
        schema="l_orderkey long, l_returnflag string",
    )
    return e.session().execute(
        f"select l.l_returnflag, count(l.l_orderkey) cnt, "
        f"sum(l.l_orderkey) sum_okey from {name} l group by l.l_returnflag"
    )


@query(
    "source_text_agg",
    """SELECT count(*) AS n_lines,
              CAST(sum(length(text)) AS BIGINT) AS sum_len,
              CAST(min(length(text)) AS BIGINT) AS min_len,
              CAST(max(length(text)) AS BIGINT) AS max_len
       FROM documents""",
)
def source_text_agg(spark, sf_dir):
    """S11 connector breadth — the last of the five formats
    (csv/json/orc/parquet/text all now have entries): document bodies
    round-trip through line-oriented text files and aggregate back to the
    same line count and exact length stats as the parquet source (the
    equality proves the round-trip is lossless — the corpus is
    newline-free by construction)."""
    import os
    import uuid

    e = engine_for(spark, sf_dir)
    name = f"DocTxt_{uuid.uuid4().hex[:8]}"
    path = os.path.join(e.warehouse, f"txt_{uuid.uuid4().hex[:8]}")
    e.table("documents").select("text").write.mode("overwrite").text(path)
    e.register_external(name, path, format="text", schema="value string")
    return e.table(name).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("sum_len"),
        F.min(F.length("value")).cast("long").alias("min_len"),
        F.max(F.length("value")).cast("long").alias("max_len"),
    )


@query(
    "decontaminate_substring",
    """WITH ev AS (
         SELECT substr(text, 1, 64) AS snip FROM documents
         WHERE doc_id % 97 = 0 AND text <> ''
       ), cp AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
       )
       SELECT c.doc_id, CAST(count(e.snip) AS BIGINT) AS n_hits,
              (count(e.snip) > 0) AS contaminated
       FROM cp c LEFT JOIN ev e ON instr(c.text, e.snip) > 0
       GROUP BY c.doc_id""",
)
def decontaminate_substring(spark, sf_dir):
    """EXACT-substring eval-set decontamination
    (`text.substring_decontaminate`) — the verbatim-leakage check the
    13-gram pass approximates: a corpus doc is contaminated when any eval
    snippet (here: the first 64 chars of each held-out doc, doc_id % 97)
    occurs at ANY character offset — no token boundary, no shingle
    alignment.  At this entry's snippet counts the operator picks the
    broadcast contains join (JVM Contains predicates in whole-stage
    codegen, per-doc hit counts); above ``SUBSTRING_CONTAINS_MAX``
    snippets it runs Aho-Corasick (one automaton pass per doc), which is
    property-tested equal."""
    from .pipeline.text import substring_decontaminate

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.substring("text", 1, 64).alias("snippet")
    )
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return substring_decontaminate(corpus, ev)


@query(
    "json_extract_props",
    """SELECT e.event_type AS event_type,
              CAST(sum(CAST(e.props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
              CAST(max(CAST(e.props->>'k' AS BIGINT)) AS BIGINT) AS max_k,
              count(*) AS cnt
       FROM events e
       WHERE CAST(e.props->>'k' AS BIGINT) >= 50
       GROUP BY e.event_type""",
)
def json_extract_props(spark, sf_dir):
    """Semi-structured JSON column processing: parse the ``props`` JSON
    string with a typed ``from_json`` (JVM-side Jackson — no Python UDF),
    filter and aggregate on the extracted field. At scale the schema-typed
    parse beats ``get_json_object`` string probing (one parse, N fields),
    and stays inside whole-stage codegen."""
    e = engine_for(spark, sf_dir)
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        e.table("events")
        .select("event_type", k.alias("k"))
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count("*").alias("cnt"),
        )
    )


@query(
    "corpus_token_stats",
    """WITH tc AS (
         SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tc
         FROM documents
       ), h AS (
         SELECT tc, count(*) AS c FROM tc GROUP BY tc
       ), cum AS (
         SELECT tc, sum(c) OVER (ORDER BY tc) AS cum FROM h
       ), n AS (
         SELECT count(*) AS n_docs, CAST(sum(tc) AS BIGINT) AS total_tokens
         FROM tc
       )
       SELECT n.n_docs AS n_docs, n.total_tokens AS total_tokens,
              (SELECT min(tc) FROM cum WHERE cum >= ceil(0.5 * n.n_docs)) AS p50,
              (SELECT min(tc) FROM cum WHERE cum >= ceil(0.9 * n.n_docs)) AS p90,
              (SELECT min(tc) FROM cum WHERE cum >= ceil(0.99 * n.n_docs)) AS p99
       FROM n""",
)
def corpus_token_stats(spark, sf_dir):
    """Token-budget accounting: doc count, total tokens, EXACT discrete
    token-count percentiles. Histogram-cumulation two-pass — the windowed
    stage runs over the (token_count → doc_count) histogram, bounded by
    distinct counts, never the corpus: no 100 TB single-task sort."""
    from .pipeline.text import token_count_stats

    e = engine_for(spark, sf_dir)
    return token_count_stats(e.table("documents"))


@query(
    "process_stream_consume",
    """SELECT event_id, event_type FROM events WHERE event_type <> 'error'""",
)
def process_stream_consume(spark, sf_dir):
    """PROCESS STREAM t WITHIN ep WHERE ... (D12): continuous PROCESS over
    the table's stream view — snapshot micro-batches visit matching rows via
    the same distributed mapInPandas pass as batch PROCESS, consumed rows are
    tombstoned per micro-batch (reference `sql/SQLCursor.java:339-430`
    process-flag path). Run to completion on the snapshot, then return the
    surviving table: events minus the consumed 'error' rows."""
    e, name = _copy_events_managed(spark, sf_dir, "EvPStr")

    def make():
        class ConsumeErrors:
            def process(self, row) -> bool:
                return True

            def delete(self) -> bool:
                return True

        return ConsumeErrors

    e.register_processor("ConsumeErrors", make())
    s = e.session()
    h = s.execute(
        f"process stream {name} e within ConsumeErrors "
        f"where e.event_type = 'error'"
    )
    try:
        h.process_all_available()
    finally:
        h.stop()
    return e.table(name).select("event_id", "event_type")


# =====================================================================
# Analytic window functions, pivot, and time-series gap-fill — extensions
# past reference parity (SURVEY §2.5 notes the reference has NO analytic
# window functions; §2.4/§2.10 rollups motivate the hypertable-style
# gap-fill).  All exact-integer outputs so the driver value-hash is
# bit-stable across engines.
# =====================================================================


@query(
    "window_analytics_orders",
    """SELECT o_custkey, o_orderkey,
              row_number() OVER w AS seq,
              CAST(floor(epoch(lag(o_orderdate) OVER w)) AS BIGINT)
                AS prev_odate_epoch,
              CAST(floor(epoch(lead(o_orderdate) OVER w)) AS BIGINT)
                AS next_odate_epoch,
              CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS run_micros,
              dense_rank() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC) AS spend_rank,
              ntile(4) OVER w AS quartile
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
)
def window_analytics_orders(spark, sf_dir):
    """Analytic window-function suite (extension; reference has none —
    SURVEY §2.5): per-customer order sequence (row_number), prev/next order
    date (lag/lead), exact running spend (BIGINT-quantized cumulative sum —
    order-dependent double addition never enters the plan), spend dense_rank
    and ntile quartiles.  One hash-partition exchange on o_custkey feeds all
    specs (two sort orders, zero extra shuffles); partitions are bounded by
    per-customer order counts, so the Window never sees a single-task global
    sort at 100 TB."""
    from pyspark.sql import Window

    e = engine_for(spark, sf_dir)
    orders = e.table("orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wdesc = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("seq"),
        _epoch(F.lag("o_orderdate").over(w)).alias("prev_odate_epoch"),
        _epoch(F.lead("o_orderdate").over(w)).alias("next_odate_epoch"),
        F.sum(F.floor(F.col("o_totalprice") * 1000000.0).cast("long"))
        .over(wrun)
        .alias("run_micros"),
        F.dense_rank().over(wdesc).alias("spend_rank"),
        F.ntile(4).over(w).alias("quartile"),
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "pivot_user_event_matrix",
    """SELECT user_id,
              count(*) FILTER (WHERE event_type = 'click')    AS click,
              count(*) FILTER (WHERE event_type = 'error')    AS error,
              count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
              count(*) FILTER (WHERE event_type = 'signup')   AS signup,
              count(*) FILTER (WHERE event_type = 'view')     AS view,
              count(*) AS n_total
       FROM events GROUP BY user_id""",
)
def pivot_user_event_matrix(spark, sf_dir):
    """PIVOT: per-user event-type count matrix (wide feature table — the
    standard long→wide step before training-data featurization).  Compiled
    as CONDITIONAL AGGREGATION (one count-if per pivot value) rather than
    Spark's native ``.pivot()``: with an explicit value list the results
    are identical, but ``pivotfirst`` plans a pre-aggregate on
    (user, event_type) plus a second exchange on user — conditional
    aggregation is ONE partial+final aggregate and ONE exchange, with
    n_total folded into the same pass (plan-linted in
    `tests/test_plan_lint.py`).  The explicit value list also avoids the
    distinct-values scan a dynamic pivot needs at 100 TB."""
    e = engine_for(spark, sf_dir)
    ev = e.table("events")
    per_type = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(t)
        for t in _EVENT_TYPES
    ]
    return ev.groupBy("user_id").agg(
        *per_type, F.count(F.lit(1)).alias("n_total")
    )


@query(
    "gapfill_hourly_events",
    """WITH hourly AS (
         SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt,
                CAST(floor(max(value) * 1000000.0) AS BIGINT) AS max_v_micros
         FROM events GROUP BY event_type, date_trunc('hour', ts)
       ), bounds AS (
         SELECT event_type, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY event_type
       ), grid AS (
         SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
         FROM bounds
       )
       SELECT g.event_type AS event_type,
              CAST(floor(epoch(g.h)) AS BIGINT) AS h_epoch,
              COALESCE(hourly.cnt, 0) AS cnt,
              last_value(hourly.max_v_micros IGNORE NULLS)
                OVER (PARTITION BY g.event_type ORDER BY g.h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS locf_max_v_micros
       FROM grid g LEFT JOIN hourly ON hourly.event_type = g.event_type
                                   AND hourly.h = g.h""",
)
def gapfill_hourly_events(spark, sf_dir):
    """Hypertable-style time-series gap-fill + LOCF: hourly per-type counts
    with MISSING hours materialized as zero rows (dense grid from each
    type's min..max hour) and last-observation-carried-forward of the hourly
    max value.  The grid is generated from the AGGREGATED table (per-type
    bounds → sequence/explode), so grid size = hours × types — never a row
    per source event; the LOCF window partitions by type over grid rows,
    bounded by the time range, not the data volume."""
    from pyspark.sql import Window

    e = engine_for(spark, sf_dir)
    ev = e.table("events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.floor(F.max("value") * 1000000.0).cast("long").alias("max_v_micros"),
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    joined = grid.join(hourly, ["event_type", "h"], "left")
    wlocf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        _epoch(F.col("h")).alias("h_epoch"),
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
        F.last("max_v_micros", ignorenulls=True).over(wlocf).alias("locf_max_v_micros"),
    )


@query(
    "incremental_rollup_events",
    """SELECT event_type,
              count(*) AS cnt,
              CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
                AS v_micros,
              min(CAST(floor(value * 1000000.0) AS BIGINT)) AS v_min_micros,
              max(CAST(floor(value * 1000000.0) AS BIGINT)) AS v_max_micros
       FROM events GROUP BY event_type""",
)
def incremental_rollup_events(spark, sf_dir):
    """Incremental materialized rollup (`dml/rollup.py`): per-type event
    stats built from an initial half of the data, then REFRESHED by folding
    in only the part file carrying the second half — the refresh reads
    O(new data), never rescans applied parts (asserted in
    `tests/test_rollup.py` by corrupting applied files).  Returned contents
    must equal the direct full aggregate, which is exactly what the oracle
    computes.  Exact BIGINT-quantized sums keep the merge order-free."""
    import uuid as _uuid

    from .dml import store

    e = engine_for(spark, sf_dir)
    name = f"EvRoll_{_uuid.uuid4().hex[:8]}"
    ev = e.table("events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000000.0).cast("long").alias("v_micros"),
    )
    td = e.register_table(
        name, "event_id long, event_type string, v_micros long",
        id_col="event_id", nocheck=True,
    )
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    store.append_df(td, half_a)
    rollup_name = f"{name}_by_type"
    e.create_rollup(
        rollup_name,
        name,
        ["event_type"],
        {
            "cnt": ("count", None),
            "v_micros": ("sum", "v_micros"),
            "v_min_micros": ("min", "v_micros"),
            "v_max_micros": ("max", "v_micros"),
        },
    )
    store.append_df(td, half_b)
    st = e.refresh_rollup(rollup_name)
    assert st["mode"] == "incremental", st
    return e.rollup(rollup_name)


@query(
    "dialect_custom_group_function",
    """SELECT event_type AS eevent_type, max(value) - min(value) AS spread,
              count(*) AS c
       FROM events GROUP BY event_type""",
)
def dialect_custom_group_function(spark, sf_dir):
    """D14 custom group functions — registration-only dead code in the
    reference (sql/SQLGroupFunction.java:53,60-63: registered names were
    never dispatched), EXECUTED here: a registered ``NAME(col)`` compiles
    to an Arrow-batched grouped-agg pandas UDF; mixing with built-ins
    splits into a second same-key aggregation joined back (Catalyst cannot
    mix pandas and JVM aggregates in one pass). SPREAD = max−min uses only
    IEEE-exact ops so the oracle reproduces it bit for bit."""
    e = engine_for(spark, sf_dir)

    def spread(v):
        return float(v.max() - v.min())

    e.register_group_function("SPREAD", spread, "double")
    return e.session().execute(
        "select e.event_type, spread(e.value) spread, count(e.event_id) c "
        "from events e group by e.event_type"
    )


@query(
    "dialect_count_distinct",
    """SELECT o_orderpriority AS oo_orderpriority,
              count(o_orderkey) AS cnt,
              count(DISTINCT o_custkey) AS dcust
       FROM orders GROUP BY o_orderpriority""",
)
def dialect_count_distinct(spark, sf_dir):
    """COUNT(DISTINCT col) dialect extension (the reference has no DISTINCT
    inside aggregates): plans as Spark's two-phase distinct aggregate —
    partial distinct on (group, value), then final count — never a
    driver-side distinct. Batch-only by design: the streaming path rejects
    it (unbounded per-group state has no eviction bound)."""
    e = engine_for(spark, sf_dir)
    s = e.session()
    df = s.execute(
        "select o.o_orderpriority, count(o.o_orderkey) cnt, "
        "count(distinct o.o_custkey) dcust "
        "from orders o group by o.o_orderpriority"
    )
    return df


@query(
    "incremental_rollup_distinct_users",
    """WITH h AS (
         SELECT DISTINCT event_type,
                ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS hv
         FROM events
       ), r AS (
         SELECT event_type, hv,
                row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
         FROM h
       ), t AS (
         SELECT event_type, count(*) AS k_cnt, max(hv) AS mx
         FROM r WHERE rn <= 64 GROUP BY event_type
       ), c AS (
         SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
       )
       SELECT c.event_type AS event_type, c.cnt AS cnt,
              CASE WHEN t.k_cnt < 64 THEN CAST(t.k_cnt AS DOUBLE)
                   ELSE 63.0 / (CAST(t.mx AS DOUBLE) / 4503599627370496.0)
              END AS est_users
       FROM c JOIN t ON c.event_type = t.event_type""",
)
def incremental_rollup_distinct_users(spark, sf_dir):
    """Incrementally maintained DISTINCT-COUNT rollup: the per-type KMV
    sketch (k smallest deterministic 52-bit hashes) is a mergeable summary
    — refresh folds the second half's sketch into the stored one (k-min of
    the distinct union), reading only the new part file; the estimate then
    equals a from-scratch KMV over the full data, which is what the oracle
    recomputes. The one rollup family (distinct counts) that plain
    sum/min/max maintenance cannot express."""
    import uuid as _uuid

    from .dml import store
    from .dml.rollup import kmv_estimate

    e = engine_for(spark, sf_dir)
    name = f"EvKmv_{_uuid.uuid4().hex[:8]}"
    ev = e.table("events").select("event_id", "event_type", "user_id")
    td = e.register_table(
        name, "event_id long, event_type string, user_id long",
        id_col="event_id", nocheck=True,
    )
    store.append_df(td, ev.filter(F.col("event_id") % 2 == 0))
    rname = f"{name}_users"
    e.create_rollup(
        rname, name, ["event_type"],
        {"cnt": ("count", None), "uk": ("kmv", "user_id", 64)},
    )
    store.append_df(td, ev.filter(F.col("event_id") % 2 == 1))
    st = e.refresh_rollup(rname)
    assert st["mode"] == "incremental", st
    return e.rollup(rname).select(
        "event_type", "cnt", kmv_estimate("uk", 64).alias("est_users")
    )


@query(
    "incremental_rollup_value_quantiles",
    """WITH h AS (
         SELECT event_type,
                least(255, greatest(0, CAST(floor(value / 3.90625) AS BIGINT))) AS bin,
                count(*) AS c
         FROM events WHERE value IS NOT NULL GROUP BY 1, 2
       ), cum AS (
         SELECT event_type, bin, c,
                sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum
         FROM h
       ), t AS (
         SELECT event_type, sum(c) AS n_rows FROM h GROUP BY event_type
       )
       SELECT cum.event_type AS event_type,
              CAST(min(t.n_rows) AS BIGINT) AS cnt,
              min(CASE WHEN cum >= greatest(1, CAST(ceil(0.5 * t.n_rows) AS BIGINT))
                            AND cum - c < greatest(1, CAST(ceil(0.5 * t.n_rows) AS BIGINT))
                       THEN 3.90625 * (bin + CAST(greatest(1, CAST(ceil(0.5 * t.n_rows) AS BIGINT)) - (cum - c) AS DOUBLE) / CAST(c AS DOUBLE)) END) AS p50,
              min(CASE WHEN cum >= greatest(1, CAST(ceil(0.99 * t.n_rows) AS BIGINT))
                            AND cum - c < greatest(1, CAST(ceil(0.99 * t.n_rows) AS BIGINT))
                       THEN 3.90625 * (bin + CAST(greatest(1, CAST(ceil(0.99 * t.n_rows) AS BIGINT)) - (cum - c) AS DOUBLE) / CAST(c AS DOUBLE)) END) AS p99
       FROM cum JOIN t ON cum.event_type = t.event_type
       GROUP BY cum.event_type""",
)
def incremental_rollup_value_quantiles(spark, sf_dir):
    """Incrementally maintained QUANTILE rollup: the per-type fixed-width
    histogram (256 additive bin counts) is a mergeable summary — refresh
    folds the second half's bins into the stored ones cell-wise, reading
    only the new part file; read-time interpolation then equals a
    from-scratch histogram over the full data, which is what the oracle
    recomputes. Quantiles join distinct-counts (KMV) and frequencies (CMS)
    as the non-algebraic rollup families sum/min/max cannot express."""
    import uuid as _uuid

    from .dml import store
    from .dml.rollup import hist_quantile

    e = engine_for(spark, sf_dir)
    name = f"EvHist_{_uuid.uuid4().hex[:8]}"
    ev = e.table("events").select("event_id", "event_type", "value")
    e.register_table(
        name, "event_id long, event_type string, value double",
        id_col="event_id", nocheck=True,
    )
    td = e.catalog.get(name)
    store.append_df(td, ev.filter(F.col("event_id") % 2 == 0))
    rname = f"{name}_q"
    e.create_rollup(
        rname, name, ["event_type"],
        {"cnt": ("count", None), "vh": ("hist", "value", 0.0, 1000.0, 256)},
    )
    store.append_df(td, ev.filter(F.col("event_id") % 2 == 1))
    st = e.refresh_rollup(rname)
    assert st["mode"] == "incremental", st
    return e.rollup(rname).select(
        "event_type",
        F.col("cnt").cast("long").alias("cnt"),
        hist_quantile("vh", 0.5).alias("p50"),
        hist_quantile("vh", 0.99).alias("p99"),
    )


@query(
    "embedding_int8_quant",
    """WITH x AS (
         SELECT vec_id,
                list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
         FROM embeddings
       ), s AS (
         SELECT vec_id, e,
                list_max(list_transform(e, v -> abs(v))) AS am
         FROM x
       ), sc AS (
         SELECT vec_id, e,
                CASE WHEN am = 0.0 THEN 0.0 ELSE 127.0 / am END AS scale
         FROM s
       ), q AS (
         SELECT vec_id, scale,
                list_transform(e, v -> CAST(floor(v * scale + 0.5) AS INTEGER)) AS qv
         FROM sc
       )
       SELECT vec_id, scale,
              CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
              CAST(list_aggregate(list_transform(qv, v -> CAST(v AS BIGINT) * v),
                                  'sum') AS BIGINT) AS q_norm2
       FROM q""",
)
def embedding_int8_quant(spark, sf_dir):
    """Symmetric per-vector int8 embedding quantization
    (`pipeline/similarity.quantize_int8`): scale = 127/max|x|, exact
    double op chain end-to-end, so the oracle reproduces the quantized
    vectors bit for bit (verified via sum and squared-norm checksums of
    every vector).  Pure JVM transform/aggregate expressions — zero
    shuffle, zero UDF — the 4× memory/IO shrink step before ANN serving."""
    from .pipeline.similarity import quantize_int8

    e = engine_for(spark, sf_dir)
    q = quantize_int8(e.table("embeddings"))
    qsum = F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda a, v: a + v)
    qn2 = F.aggregate(
        F.col("q"), F.lit(0).cast("long"), lambda a, v: a + v.cast("long") * v
    )
    return q.select(
        "vec_id", "scale", qsum.alias("q_sum"), qn2.alias("q_norm2")
    )


@query(
    "text_repeated_passages",
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         FROM documents WHERE length(trim(text)) > 0
       ), c AS (
         SELECT t.doc_id,
                array_to_string(w[i.i * 10 + 1 : i.i * 10 + 10], ' ') AS chunk
         FROM t CROSS JOIN LATERAL (
           SELECT unnest(generate_series(0,
                    CAST(floor(len(w) / 10) AS INT) - 1)) AS i
         ) i
       )
       SELECT chunk,
              count(DISTINCT doc_id) AS n_docs,
              count(*) AS n_occ
       FROM c GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2""",
)
def text_repeated_passages(spark, sf_dir):
    """Cross-document repeated-passage detection
    (`pipeline/text.repeated_passages`): non-overlapping 10-word chunks
    appearing in ≥2 distinct documents (the intra-corpus copied-passage
    signal behind C4/RefinedWeb-style cleaning) — surfaces the corpus's
    seeded duplicates at chunk granularity.  Pure JVM chunking, one
    combiner-friendly shuffle on the chunk key."""
    from .pipeline.text import repeated_passages

    e = engine_for(spark, sf_dir)
    return repeated_passages(e.table("documents"))


@query(
    "clean_repeated_passages",
    """WITH t AS (
         SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         FROM documents
       ), ch AS (
         SELECT doc_id, i.i AS cpos,
                array_to_string(t.w[(i.i * 10 + 1):(i.i * 10 + 10)], ' ')
                  AS chunk
         FROM t CROSS JOIN LATERAL (
           SELECT unnest(generate_series(0, len(t.w) // 10 - 1)) AS i
         ) i
       ), rep AS (
         SELECT chunk FROM ch GROUP BY chunk
         HAVING count(DISTINCT doc_id) >= 2
       ), marked AS (
         SELECT ch.doc_id, ch.cpos, ch.chunk,
                rep.chunk IS NOT NULL AS is_rep
         FROM ch LEFT JOIN rep USING (chunk)
       ), per_doc AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
                CAST(count(*) FILTER (WHERE is_rep) AS BIGINT) AS n_removed,
                string_agg(chunk, ' ' ORDER BY cpos)
                  FILTER (WHERE NOT is_rep) AS kept
         FROM marked GROUP BY doc_id
       )
       SELECT t.doc_id,
              coalesce(p.n_chunks, CAST(0 AS BIGINT)) AS n_chunks,
              coalesce(p.n_removed, CAST(0 AS BIGINT)) AS n_removed,
              trim(concat_ws(' ', coalesce(p.kept, ''),
                array_to_string(t.w[(len(t.w) // 10 * 10 + 1):len(t.w)], ' ')
              )) AS clean_text
       FROM t LEFT JOIN per_doc p USING (doc_id)""",
)
def clean_repeated_passages(spark, sf_dir):
    """Repeated-passage REMOVAL (`pipeline/text.remove_repeated_passages`)
    — the cleanup `text_repeated_passages` detection feeds: every
    document is rewritten with its cross-document-repeated 10-word
    chunks cut out (tails and short docs pass through), plus per-doc
    removed-chunk counts.  Detection's combiner groupBy + a broadcastable
    repeated-chunk join + a per-document rebuild bounded by doc size —
    the whole rewrite value-hashes, clean text included."""
    from .pipeline.text import remove_repeated_passages

    e = engine_for(spark, sf_dir)
    return remove_repeated_passages(e.table("documents"))


@query(
    "embedding_dim_stats",
    """WITH x AS (
         SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
         FROM embeddings
       ), d AS (
         SELECT i.i - 1 AS dim,
                CAST(floor(e[i.i] * 1000000.0) AS BIGINT) AS m
         FROM x CROSS JOIN LATERAL (
           SELECT unnest(generate_series(1, 64)) AS i
         ) i
       )
       SELECT dim, count(*) AS n,
              CAST(sum(m) AS BIGINT) AS sum_micros,
              min(m) AS min_micros, max(m) AS max_micros
       FROM d GROUP BY dim""",
)
def embedding_dim_stats(spark, sf_dir):
    """Per-dimension embedding statistics (feature-drift / data-QA pass
    over the vector column): exact micro-quantized sum/min/max per
    dimension.  posexplode fans each vector into 64 narrow rows; the
    aggregate is combiner-friendly on a 64-value key, so the shuffle
    carries 64 rows per partition regardless of corpus size."""
    e = engine_for(spark, sf_dir)
    emb = e.table("embeddings")
    d = emb.select(
        F.posexplode(
            F.transform(F.col("embedding"), lambda v: v.cast("double"))
        ).alias("dim", "v")
    ).select(
        "dim", F.floor(F.col("v") * 1000000.0).cast("long").alias("m")
    )
    return d.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("m").alias("sum_micros"),
        F.min("m").alias("min_micros"),
        F.max("m").alias("max_micros"),
    )


@query(
    "mm_video_frames",
    """SELECT doc_id AS media_id,
              CAST(fi AS BIGINT) AS frame_idx,
              CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height
       FROM (SELECT doc_id,
                    unnest(generate_series(0, doc_id % 7, 2)) AS fi
             FROM documents)""",
)
def mm_video_frames(spark, sf_dir):
    """REAL video-container frame sampling: deterministic APNG per doc
    (1 + doc_id % 7 full-canvas frames, bundled pure-Python codec), every
    2nd frame extracted as a standalone single-frame PNG by
    `multimodal.frame_sample(decoder="real")`. Width/height are parsed
    JVM-side from each emitted frame's IHDR bytes — if the codec emitted
    anything but a well-formed PNG, the dims (and the oracle) would
    break."""
    from .pipeline.multimodal import frame_sample, synth_apng_corpus

    e = engine_for(spark, sf_dir)
    media = synth_apng_corpus(e.table("documents"), max_frames=7)
    frames = frame_sample(media, stride=2, decoder="real")
    dim = lambda off: F.conv(  # noqa: E731
        F.hex(F.substring(F.col("frame"), off, 4)), 16, 10
    ).cast("long")
    return frames.select(
        "media_id", "frame_idx",
        dim(17).alias("width"), dim(21).alias("height"),
    )


@query(
    "mm_image_dedup",
    """SELECT min(doc_id) AS keep_id, count(*) AS n_images
       FROM documents GROUP BY doc_id % 31""",
)
def mm_image_dedup(spark, sf_dir):
    """Image dedup through the REAL PNG codec end to end: a deterministic
    PNG per doc (pattern = doc_id % 31 → known duplicate structure), 64-bit
    average-hash perceptual fingerprints (decode → grayscale → 8×8 → mean
    threshold), then the same one-shuffle hash-groupBy as exact text dedup.
    The oracle checks the grouping semantics (variant classes) — if codec
    or hash broke, the groups change and the hash-compare fails; the aHash
    bit semantics themselves are unit-tested against fixtures."""
    from .pipeline.multimodal import image_ahash, synth_png_corpus

    e = engine_for(spark, sf_dir)
    media = synth_png_corpus(e.table("documents"), variants=31)
    return (
        image_ahash(media)
        .groupBy("ahash")
        .agg(F.min("media_id").alias("keep_id"), F.count("*").alias("n_images"))
        .select("keep_id", "n_images")
    )


@query(
    "mm_jpeg_dedup",
    """SELECT min(doc_id) AS keep_id, count(*) AS n_images
       FROM documents GROUP BY doc_id % 31""",
)
def mm_jpeg_dedup(spark, sf_dir):
    """Image dedup through the REAL baseline-JPEG codec end to end
    (`pipeline/jpeg.py` — pure-Python encoder with self-built canonical
    Huffman tables, full entropy-decode + IDCT on read): a deterministic
    JPEG per doc (pattern = doc_id % 31), aHash perceptual fingerprints
    over the DECODED pixels, then the one-shuffle hash-groupBy.  The 31
    lossy-decoded patterns land on 31 distinct aHashes (unit-verified),
    so the oracle's variant-class grouping only matches if encoder,
    decoder, and hash all work."""
    from .pipeline.multimodal import image_ahash, synth_jpeg_corpus

    e = engine_for(spark, sf_dir)
    media = synth_jpeg_corpus(e.table("documents"), variants=31)
    return (
        image_ahash(media)
        .groupBy("ahash")
        .agg(F.min("media_id").alias("keep_id"), F.count("*").alias("n_images"))
        .select("keep_id", "n_images")
    )


@query(
    "embedding_label_centroids",
    """WITH x AS (
         SELECT label, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
         FROM embeddings
       ), d AS (
         SELECT label, i.i - 1 AS dim,
                CAST(floor(e[i.i] * 1000000.0) AS BIGINT) AS m
         FROM x CROSS JOIN LATERAL (
           SELECT unnest(generate_series(1, 64)) AS i
         ) i
       )
       SELECT label, dim, count(*) AS n,
              CAST(sum(m) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0 AS mean
       FROM d GROUP BY label, dim""",
)
def embedding_label_centroids(spark, sf_dir):
    """Per-label centroid vectors (`pipeline/linalg.label_centroids`):
    class prototypes in long form for drift monitoring and hard-negative
    mining. Combiner-friendly (label, dim) aggregate — the shuffle carries
    labels×64 rows per partition regardless of corpus size; quantized-long
    sums keep it engine-reproducible."""
    from .pipeline.linalg import label_centroids

    e = engine_for(spark, sf_dir)
    return label_centroids(e.table("embeddings"))


def _top_pc_oracle() -> str:
    """Top-principal-component oracle: the quantized covariance (same
    floor-1e6 BIGINT cells the engine's mapInPandas pass accumulates)
    followed by the engine's FIXED-schedule parallel Jacobi eigensolve
    replayed move for move in a recursive CTE — 63 round-robin rounds of
    32 disjoint rotations per sweep, rotation coefficients from the
    round-start matrix, the identical ``c·x − s·y`` elementwise mixes,
    trace as the same sequential left fold, top-diagonal / pivot / sign
    rules identical (`pipeline/linalg.jacobi_top_component`).  Every
    operation is elementary IEEE double arithmetic (+ correctly-rounded
    sqrt), which is exactly why the engine uses Jacobi instead of LAPACK
    ``eigh`` — this is what upgrades the entry from rows-only to
    value-hashed.  NOTE: double literals are written ``CAST(1 AS DOUBLE)``
    — a bare ``1.0`` is DECIMAL(2,1) in DuckDB and a recursive CTE
    coerces every iterate back to one decimal place."""
    from .pipeline.linalg import JACOBI_SWEEPS

    nsteps = JACOBI_SWEEPS * 63
    return f"""
WITH RECURSIVE v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), ve AS (
  SELECT vec_id, i.i - 1 AS pos, e[i.i] AS x
  FROM v CROSS JOIN LATERAL (SELECT unnest(generate_series(1, 64)) AS i) i
), nn AS (SELECT count(*) AS n FROM v),
cells AS (
  SELECT a.pos AS i, b.pos AS j,
         sum(CAST(floor(a.x * b.x * 1e6) AS BIGINT)) AS q
  FROM ve a JOIN ve b ON a.vec_id = b.vec_id AND a.pos <= b.pos
  GROUP BY 1, 2
), means AS (
  SELECT pos,
         CAST(sum(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / (SELECT n FROM nn) AS m
  FROM ve GROUP BY pos
), grid AS (
  SELECT gi.i AS i, gj.i AS j
  FROM (SELECT unnest(generate_series(0, 63)) AS i) gi
  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) gj
), covlist AS (
  SELECT list(
           CAST(COALESCE(c.q, 0) AS DOUBLE) / 1e6 / (SELECT n FROM nn)
             - mi.m * mj.m
           ORDER BY g.i * 64 + g.j
         ) AS a
  FROM grid g
  LEFT JOIN cells c ON c.i = LEAST(g.i, g.j) AND c.j = GREATEST(g.i, g.j)
  JOIN means mi ON mi.pos = g.i
  JOIN means mj ON mj.pos = g.j
), pairsrr AS (
  -- round-robin circle method: position 0 fixed, round t seats
  -- player 1 + (j-1+t) % 63 at position j; pair i = (pos i, pos 63-i)
  SELECT t, LEAST(x, y) AS p, GREATEST(x, y) AS q
  FROM (
    SELECT tt.t AS t,
           CASE WHEN ii.i = 0 THEN 0 ELSE 1 + ((ii.i - 1 + tt.t) % 63) END AS x,
           1 + ((62 - ii.i + tt.t) % 63) AS y
    FROM (SELECT unnest(generate_series(0, 62)) AS t) tt
    CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) ii
  )
), jac AS (
  SELECT 0 AS step,
         (SELECT a FROM covlist) AS a,
         [CASE WHEN (k - 1) // 64 = (k - 1) % 64 THEN CAST(1 AS DOUBLE)
               ELSE CAST(0 AS DOUBLE) END
          FOR k IN generate_series(1, 4096)] AS w
  UNION ALL
  SELECT step + 1,
         -- column mix over the row-mixed b: A' = (Jt·A)·J
         [CASE WHEN lw[((k - 1) % 64) + 1]
               THEN cc[((k - 1) % 64) + 1] * b[k]
                    - ss[((k - 1) % 64) + 1]
                      * b[((k - 1) // 64) * 64 + pp[((k - 1) % 64) + 1] + 1]
               ELSE ss[((k - 1) % 64) + 1]
                    * b[((k - 1) // 64) * 64 + pp[((k - 1) % 64) + 1] + 1]
                    + cc[((k - 1) % 64) + 1] * b[k]
          END FOR k IN generate_series(1, 4096)],
         [CASE WHEN lw[((k - 1) % 64) + 1]
               THEN cc[((k - 1) % 64) + 1] * w[k]
                    - ss[((k - 1) % 64) + 1]
                      * w[((k - 1) // 64) * 64 + pp[((k - 1) % 64) + 1] + 1]
               ELSE ss[((k - 1) % 64) + 1]
                    * w[((k - 1) // 64) * 64 + pp[((k - 1) % 64) + 1] + 1]
                    + cc[((k - 1) % 64) + 1] * w[k]
          END FOR k IN generate_series(1, 4096)]
  FROM (
    SELECT step, a, w, pp, cc, ss, lw,
           -- row mix: b = Jt·A
           [CASE WHEN lw[((k - 1) // 64) + 1]
                 THEN cc[((k - 1) // 64) + 1] * a[k]
                      - ss[((k - 1) // 64) + 1]
                        * a[pp[((k - 1) // 64) + 1] * 64 + ((k - 1) % 64) + 1]
                 ELSE ss[((k - 1) // 64) + 1]
                      * a[pp[((k - 1) // 64) + 1] * 64 + ((k - 1) % 64) + 1]
                      + cc[((k - 1) // 64) + 1] * a[k]
            END FOR k IN generate_series(1, 4096)] AS b
    FROM (
      SELECT j.step, j.a, j.w,
             r.pp AS pp, r.cc AS cc, r.ss AS ss, r.lw AS lw
      FROM jac j, LATERAL (
        SELECT list(partner ORDER BY r) AS pp,
               list(c ORDER BY r) AS cc,
               list(s ORDER BY r) AS ss,
               list(islow ORDER BY r) AS lw
        FROM (
          SELECT unnest([pr.p, pr.q]) AS r,
                 unnest([pr.q, pr.p]) AS partner,
                 unnest([TRUE, FALSE]) AS islow,
                 CASE WHEN apq = 0.0 THEN 1.0
                      ELSE 1.0 / sqrt(1.0 + tt * tt) END AS c,
                 CASE WHEN apq = 0.0 THEN 0.0
                      ELSE tt * (1.0 / sqrt(1.0 + tt * tt)) END AS s
          FROM (
            SELECT pr.p, pr.q, apq,
                   CASE WHEN apq = 0.0 THEN 0.0
                        ELSE (CASE WHEN tau >= 0.0 THEN 1.0 ELSE -1.0 END)
                             / (abs(tau) + sqrt(1.0 + tau * tau)) END AS tt
            FROM (
              SELECT pr.p, pr.q,
                     j.a[pr.p * 64 + pr.q + 1] AS apq,
                     CASE WHEN j.a[pr.p * 64 + pr.q + 1] = 0.0 THEN 0.0
                          ELSE (j.a[pr.q * 65 + 1] - j.a[pr.p * 65 + 1])
                               / (2.0 * j.a[pr.p * 64 + pr.q + 1]) END AS tau
              FROM pairsrr pr WHERE pr.t = j.step % 63
            ) pr
          ) pr
        )
      ) r
      WHERE j.step < {nsteps}
    )
  )
), fin AS (
  SELECT a, w FROM jac WHERE step = {nsteps}
), topsel AS (
  SELECT jj.j AS lamj, f.a[jj.j * 65 + 1] AS lam
  FROM fin f, (SELECT unnest(generate_series(0, 63)) AS j) jj
  ORDER BY f.a[jj.j * 65 + 1] DESC, jj.j ASC LIMIT 1
), tr AS (
  SELECT list_reduce(
           [ c.a[j * 65 + 1] FOR j IN generate_series(0, 63) ],
           (x, y) -> x + y
         ) AS trace
  FROM covlist c
), vecsel AS (
  SELECT [f.w[r * 64 + t.lamj + 1] FOR r IN generate_series(0, 63)] AS vv,
         t.lam AS lam
  FROM fin f, topsel t
), piv AS (
  SELECT rr.r AS pivot, v.vv[rr.r + 1] AS pval
  FROM vecsel v, (SELECT unnest(generate_series(0, 63)) AS r) rr
  ORDER BY abs(v.vv[rr.r + 1]) DESC, rr.r ASC LIMIT 1
)
SELECT jj.j AS dim,
       CASE WHEN p.pval < 0.0 THEN -v.vv[jj.j + 1] ELSE v.vv[jj.j + 1] END AS loading,
       v.lam AS eigenvalue,
       CASE WHEN t.trace > 0.0 THEN v.lam / t.trace ELSE 0.0 END AS explained_frac
FROM vecsel v, piv p, tr t, (SELECT unnest(generate_series(0, 63)) AS j) jj
ORDER BY dim
"""


@query("embedding_top_pc", _top_pc_oracle())
def embedding_top_pc(spark, sf_dir):
    """Exact top principal component of the embedding corpus
    (`pipeline/linalg.top_principal_component`): ONE mapInPandas pass of
    numpy partial Grams (2 080 quantized-long cells per batch on the
    shuffle, never data), exact d×d covariance, then a FIXED-schedule
    parallel Jacobi eigensolve on the driver
    (`linalg.jacobi_top_component`) — elementary IEEE arithmetic in a
    deterministic order instead of LAPACK ``eigh`` (agrees to ~1e-12,
    cross-checked in unit tests), so the SQL oracle replays the entire
    solve bit for bit in a recursive CTE.  Quantized-long accumulation
    makes the covariance — and therefore every downstream number —
    bit-identical on any partitioning.  Upgraded from rows-only to
    value-hashed in round 4 (the last of 160 entries without a value
    oracle)."""
    from .pipeline.linalg import top_principal_component

    e = engine_for(spark, sf_dir)
    return top_principal_component(e.table("embeddings"), "embedding", dim=64)


def _pack_oracle(budget: int = 2048, n_shards: int = 4) -> str:
    from .pipeline.export import knuth_mix_sql

    hh = knuth_mix_sql("doc_id")
    return f"""WITH t AS (
         SELECT doc_id,
                len(regexp_split_to_array(trim(text), '\\s+')) AS tok,
                {hh} AS hh
         FROM documents WHERE length(trim(text)) > 0
       ), s AS (
         SELECT doc_id, tok, hh % {n_shards} AS shard,
                sum(tok) OVER (PARTITION BY hh % {n_shards}
                               ORDER BY hh, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - tok AS off
         FROM t
       )
       SELECT shard, CAST(floor(off / {budget}.0) AS BIGINT) AS pack,
              count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens
       FROM s GROUP BY shard, pack"""


@query("pack_training_sequences", _pack_oracle())
def pack_training_sequences(spark, sf_dir):
    """GPT-style sequence packing (`pipeline/export.pack_sequences`):
    documents concatenated in deterministic shuffle order within each of 4
    shards and cut every 2048 tokens; a document belongs to the pack its
    first token falls into.  Summarized per (shard, pack) as doc and token
    counts — the whole layout is reproducible on any cluster size, so the
    oracle rebuilds it exactly (budget is a power of two, keeping the
    offset/budget division FP-exact)."""
    from .pipeline.export import pack_sequences

    e = engine_for(spark, sf_dir)
    docs = e.table("documents").filter(F.length(F.trim(F.col("text"))) > 0)
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    packed = pack_sequences(
        docs.withColumn("tok", toks), "doc_id", "tok", budget=2048, n_shards=4
    )
    return packed.groupBy("shard", "pack").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").cast("long").alias("tokens"),
    )


def _dedup_safe_split_oracle() -> str:
    from .pipeline.export import assign_split_sql

    split_case = assign_split_sql(
        "cid", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return f"""WITH RECURSIVE grams AS (
         SELECT doc_id,
                list_distinct([substring(text, i, 3)
                               for i in generate_series(1, greatest(length(text)-2, 1))]) AS gs
         FROM documents
       ), sized AS (
         SELECT doc_id, len(gs) AS n, unnest(gs) AS g FROM grams
       ), pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sized a JOIN sized b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id, a.n, b.n
         HAVING CAST(count(*) AS DOUBLE)
                / CAST(a.n + b.n - count(*) AS DOUBLE) >= 0.8
       ), edges AS (
         SELECT id_a AS u, id_b AS v FROM pairs
         UNION SELECT id_b, id_a FROM pairs
       ), reach(id, r) AS (
         SELECT u, u FROM edges
         UNION
         SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id
       ), labels AS (
         SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
       ), cl AS (
         SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cid
         FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
       )
       SELECT doc_id, cid AS cluster_id, {split_case} AS split
       FROM cl"""


@query(
    "quality_tiers_by_lang",
    """WITH h AS (
         SELECT lang, n_chars, count(*) AS c FROM documents GROUP BY 1, 2
       ), cum AS (
         SELECT lang, n_chars, c,
                sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum
         FROM h
       ), t AS (
         SELECT lang, sum(c) AS n FROM h GROUP BY lang
       ), cuts AS (
         SELECT cum.lang,
                min(CASE WHEN cum >= ceil(0.25 * t.n) THEN n_chars END) AS p25,
                min(CASE WHEN cum >= ceil(0.5 * t.n) THEN n_chars END) AS p50,
                min(CASE WHEN cum >= ceil(0.75 * t.n) THEN n_chars END) AS p75
         FROM cum JOIN t USING (lang) GROUP BY cum.lang
       )
       SELECT d.doc_id, d.lang,
              CAST(1 + (CASE WHEN d.n_chars > c.p25 THEN 1 ELSE 0 END)
                     + (CASE WHEN d.n_chars > c.p50 THEN 1 ELSE 0 END)
                     + (CASE WHEN d.n_chars > c.p75 THEN 1 ELSE 0 END) AS INT) AS tier
       FROM documents d JOIN cuts c USING (lang)""",
)
def quality_tiers_by_lang(spark, sf_dir):
    """Per-language quality tiers (`pipeline/stats.quantile_tiers`): every
    doc labeled 1-4 by its within-language length quartile — the
    quality-tiered mixture tool (oversample the top quartile per lang).
    Exact discrete cuts from the percentile histogram machinery, broadcast
    back; the data side is a pure projection join."""
    from .pipeline.stats import quantile_tiers

    e = engine_for(spark, sf_dir)
    docs = e.table("documents").select("doc_id", "lang", "n_chars")
    return quantile_tiers(docs, ("lang",), "n_chars").select(
        "doc_id", "lang", "tier"
    )


@query("train_split_dedup_safe", _dedup_safe_split_oracle())
def train_split_dedup_safe(spark, sf_dir):
    """Near-dup-safe train/val/test split: the leakage unit is the
    DUPLICATE CLUSTER, not the document — hashing doc ids alone lets two
    near-identical docs straddle train and test (the classic contamination
    path the plain split cannot see). Composition: n-gram Jaccard pairs →
    connected components → split hashed on the cluster id, so every member
    of a near-dup cluster lands in the same split."""
    from .pipeline.dedup import dedup_clusters, ngram_jaccard_pairs
    from .pipeline.export import assign_split

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    clusters = dedup_clusters(docs, pairs)
    return assign_split(
        clusters, "cluster_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "cluster_id", "split")


_WS_MIX = "((CAST(doc_id AS BIGINT) * 2654435761) % 4294967296 + 4294967296) % 4294967296"


@query(
    "weighted_sample_by_quality",
    f"""SELECT doc_id, lang,
              CAST(n_chars AS DOUBLE) / 1000.0 AS w
       FROM documents
       WHERE CAST({_WS_MIX} AS DOUBLE) / 4294967296.0
             < least(1.0, CAST(n_chars AS DOUBLE) / 1000.0)""",
)
def weighted_sample_by_quality(spark, sf_dir):
    """Deterministic importance sampling (`pipeline/export.weighted_sample`):
    keep each doc with probability ∝ a quality proxy (here length/1000) —
    the quality-weighted downsampling step of mixture building. Pure
    projection, reproducible on any partitioning, and nested (raising the
    scale only adds rows)."""
    from .pipeline.export import weighted_sample

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    return weighted_sample(
        docs, "doc_id", F.col("n_chars").cast("double") / 1000.0
    ).select(
        "doc_id", "lang", (F.col("n_chars").cast("double") / 1000.0).alias("w")
    )


@query(
    "stratified_sample_by_lang",
    """WITH h AS (
         SELECT doc_id, lang,
                ('0x' || substring(md5('s0' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS hv
         FROM documents
       )
       SELECT lang, count(*) AS n_sampled, CAST(sum(doc_id) AS BIGINT) AS id_sum
       FROM h
       WHERE hv < CASE lang
                    WHEN 'en' THEN CAST(0.5  * 4503599627370496 AS BIGINT)
                    WHEN 'de' THEN CAST(0.2  * 4503599627370496 AS BIGINT)
                    WHEN 'es' THEN CAST(0.1  * 4503599627370496 AS BIGINT)
                    WHEN 'fr' THEN CAST(0.1  * 4503599627370496 AS BIGINT)
                    ELSE CAST(0.05 * 4503599627370496 AS BIGINT)
                  END
       GROUP BY lang""",
)
def stratified_sample_by_lang(spark, sf_dir):
    """Corpus mixture construction (`pipeline/export.stratified_sample`):
    per-language deterministic sampling rates (50% en, 20% de, 10% es/fr,
    5% default) — the standard upweight/downweight step when composing a
    training mixture.  Nested-sample property: raising a language's rate
    only ADDS documents.  Zero shuffle until this summary aggregate."""
    from .pipeline.export import stratified_sample

    e = engine_for(spark, sf_dir)
    s = stratified_sample(
        e.table("documents"),
        "lang",
        {"en": 0.5, "de": 0.2, "es": 0.1, "fr": 0.1},
        "doc_id",
        default_rate=0.05,
    )
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@query(
    "sim_quantized_topk",
    """WITH x AS (
         SELECT vec_id,
                list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
         FROM embeddings
       ), sc AS (
         SELECT vec_id, e,
                CASE WHEN list_max(list_transform(e, v -> abs(v))) = 0.0
                     THEN 0.0
                     ELSE 127.0 / list_max(list_transform(e, v -> abs(v)))
                END AS scale
         FROM x
       ), q AS (
         SELECT vec_id,
                list_transform(e, v -> CAST(floor(v * scale + 0.5) AS BIGINT)) AS qv
         FROM sc
       ), qq AS (
         SELECT qv AS qqv FROM q WHERE vec_id = 0
       ), d AS (
         SELECT q.vec_id,
                list_reduce([q.qv[i] * qq.qqv[i] for i in generate_series(1, 64)],
                            (a, b) -> a + b) AS dot,
                list_reduce([q.qv[i] * q.qv[i] for i in generate_series(1, 64)],
                            (a, b) -> a + b) AS n2,
                list_reduce([qq.qqv[i] * qq.qqv[i] for i in generate_series(1, 64)],
                            (a, b) -> a + b) AS qn2
         FROM q, qq WHERE q.vec_id <> 0
       )
       SELECT vec_id,
              CAST(dot AS DOUBLE) / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))
                AS qcos
       FROM d ORDER BY qcos DESC, vec_id LIMIT 10""",
)
def sim_quantized_topk(spark, sf_dir):
    """Serving-path ANN over int8-quantized vectors
    (`pipeline/similarity.quantized_cosine_topk`): integer dot products
    (exact BIGINT, order-free) against the quantized query + one double
    division — the ranking is engine-reproducible, so the oracle replays
    quantization AND search bit for bit.  Same TakeOrderedAndProject plan
    as the float path over 4× smaller vectors."""
    from .pipeline.similarity import quantize_int8, quantized_cosine_topk

    e = engine_for(spark, sf_dir)
    emb = e.table("embeddings")
    qrow = quantize_int8(emb.filter(F.col("vec_id") == 0)).first()
    return quantized_cosine_topk(
        emb.filter(F.col("vec_id") != 0), [int(v) for v in qrow["q"]], k=10
    )


@query(
    "incremental_rollup_user_freq",
    """WITH ds AS (
         SELECT unnest(generate_series(0, 3)) AS d
       ), cells AS (
         SELECT event_type, ds.d,
                ('0x' || substring(md5('cms' || CAST(ds.d AS VARCHAR) || ':' ||
                                        CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
                  % 64 AS b,
                count(*) AS cnt
         FROM events CROSS JOIN ds
         GROUP BY event_type, ds.d, b
       ), probe AS (
         SELECT u, ds.d,
                ('0x' || substring(md5('cms' || CAST(ds.d AS VARCHAR) || ':' ||
                                        CAST(u AS VARCHAR)), 1, 13))::BIGINT
                  % 64 AS b
         FROM (SELECT unnest(generate_series(0, 9)) AS u) CROSS JOIN ds
       ), types AS (SELECT DISTINCT event_type FROM events)
       SELECT t.event_type AS event_type, p.u AS user_id,
              CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS est_cnt
       FROM types t CROSS JOIN probe p
       LEFT JOIN cells c ON c.event_type = t.event_type
                        AND c.d = p.d AND c.b = p.b
       GROUP BY t.event_type, p.u""",
)
def incremental_rollup_user_freq(spark, sf_dir):
    """Incrementally maintained FREQUENCY rollup: a per-type Count-Min
    counter table (flat d×w array) is additive, so refresh merges the new
    part file's sketch by cell-wise sum — after which probing any user's
    estimated event count per type equals a from-scratch CMS over the full
    data (what the oracle recomputes, including the min-over-depth
    estimate). Completes the mergeable-summary family: sum-like, KMV
    (distinct), CMS (frequency)."""
    import uuid as _uuid

    from .dml import store
    from .dml.rollup import cms_estimate

    e = engine_for(spark, sf_dir)
    name = f"EvCms_{_uuid.uuid4().hex[:8]}"
    ev = e.table("events").select("event_id", "event_type", "user_id")
    td = e.register_table(
        name, "event_id long, event_type string, user_id long",
        id_col="event_id", nocheck=True,
    )
    store.append_df(td, ev.filter(F.col("event_id") % 2 == 0))
    rname = f"{name}_freq"
    e.create_rollup(rname, name, ["event_type"], {"cm": ("cms", "user_id", 64, 4)})
    store.append_df(td, ev.filter(F.col("event_id") % 2 == 1))
    st = e.refresh_rollup(rname)
    assert st["mode"] == "incremental", st
    probe = spark.range(10).select(F.col("id").alias("user_id"))
    return (
        e.rollup(rname)
        .crossJoin(F.broadcast(probe))
        .select(
            "event_type",
            "user_id",
            cms_estimate("cm", F.col("user_id"), 64, 4).cast("long").alias("est_cnt"),
        )
    )


@query(
    "schema_evolution_add_column",
    """SELECT r_regionkey, r_name, CAST(NULL AS BIGINT) AS bonus FROM region
       UNION ALL
       SELECT r_regionkey, r_name, CAST(r_regionkey * 10 AS BIGINT) AS bonus
       FROM region""",
)
def schema_evolution_add_column(spark, sf_dir):
    """ALTER TABLE ADD COLUMN (extension; the reference requires drop +
    re-register): rows appended BEFORE the ALTER read the new column as
    null — metadata-only widening, zero data rewrite (byte-identical old
    parts asserted in `tests/test_dml.py`) — and rows appended after carry
    values."""
    import uuid as _uuid

    from .dml import store

    e = engine_for(spark, sf_dir)
    name = f"Evo_{_uuid.uuid4().hex[:8]}"
    region = e.table("region").select(
        F.col("r_regionkey").cast("long"), "r_name"
    )
    td = e.register_table(
        name, "r_regionkey long, r_name string", id_col=None, nocheck=True
    )
    store.append_df(td, region)
    td = e.add_column(name, "bonus long")
    store.append_df(
        td,
        region.withColumn("bonus", (F.col("r_regionkey") * 10).cast("long")),
    )
    return e.table(name)


@query(
    "stream_session_windows",
    """WITH o AS (
         SELECT user_id, ts, value,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         FROM events
       ), marked AS (
         SELECT user_id, ts, value,
                CASE WHEN prev IS NULL
                          OR epoch(ts) - epoch(prev) >= 1800 THEN 1 ELSE 0 END AS new_s
         FROM o
       ), runs AS (
         SELECT user_id, ts, value,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
         FROM marked
       )
       SELECT user_id, count(*) AS n_events,
              CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
              CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
       FROM runs GROUP BY user_id, sid""",
)
def stream_session_windows(spark, sf_dir):
    """Gap-based session windows over the STREAMING path (beyond-reference:
    the reference CEP has count/key-change windows only): the SAME
    `streaming/windows.sessionize` operator as the batch entry, run on a
    readStream in complete-mode run-to-completion.  Streaming state is one
    OPEN session per user (closed sessions emit and evict under a
    watermark in production append mode); the oracle rebuilds sessions with
    the lag + cumulative-sum island trick."""
    import uuid as _uuid

    from .streaming.windows import sessionize

    e, name = _copy_events_managed(spark, sf_dir, "EvSess")
    td = e.catalog.get(name)
    sdf = spark.readStream.schema(td.require_schema()).parquet(td.path)
    agg = sessionize(sdf, "ts", ("user_id",), gap="30 minutes", value_col="value")
    qname = f"sess_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(qname).select(
        "user_id", "n_events",
        _epoch(F.col("__start")).alias("start_epoch"), "sum_value",
    )
    return spark.createDataFrame(out.collect(), out.schema)


_HH_KEY_SQL = (
    "CASE WHEN event_id % 3 = 0 THEN 'hot' "
    "ELSE 'u' || CAST(user_id * 97 + event_id % 50 AS VARCHAR) END"
)


@query(
    "stream_heavy_hitters",
    f"""WITH t AS (
         SELECT {_HH_KEY_SQL} AS hkey FROM events
       ), n AS (SELECT count(*) AS n FROM t)
       SELECT hkey, count(*) AS cnt FROM t CROSS JOIN n
       GROUP BY hkey, n.n HAVING count(*) * 8 > n.n""",
)
def stream_heavy_hitters(spark, sf_dir):
    """Heavy hitters over an unbounded stream with O(k) state: Misra-Gries
    candidate summary maintained in `applyInPandasWithState`
    (`streaming/windows.misra_gries` — at most k−1 counters against a
    ~700-key tail here), then ONE tiny batch pass counts only the
    candidates exactly. The MG guarantee (every value with true frequency
    > n/k survives, any arrival order) makes the verified output
    order-independent — which is why this streaming operator can carry a
    full SQL oracle."""
    import uuid as _uuid

    from .streaming.windows import misra_gries

    e, name = _copy_events_managed(spark, sf_dir, "EvHH")
    td = e.catalog.get(name)
    hkey = F.when(F.col("event_id") % 3 == 0, F.lit("hot")).otherwise(
        F.concat(
            F.lit("u"),
            (F.col("user_id") * 97 + F.col("event_id") % 50).cast("string"),
        )
    )
    sdf = (
        spark.readStream.schema(td.require_schema())
        .parquet(td.path)
        .select("event_id", hkey.alias("hkey"))
    )
    mg = misra_gries(sdf, "event_id", "hkey", k=8)
    qname = f"hh_{_uuid.uuid4().hex[:8]}"
    q = (
        mg.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = spark.table(qname)
    last = snap.agg(F.max("batch_ord").alias("m"))
    cands = (
        snap.join(F.broadcast(last), snap["batch_ord"] == F.col("m"))
        .select(F.col("value").alias("hkey"))
    )
    cands = spark.createDataFrame(cands.collect(), "hkey string")  # pin
    batch = e.table(name).select(hkey.alias("hkey"))
    n_total = batch.count()
    return (
        batch.join(F.broadcast(cands), "hkey", "left_semi")
        .groupBy("hkey")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") * 8 > F.lit(n_total))
    )


@query(
    "mm_audio_features",
    """SELECT doc_id AS media_id,
              CAST(16000 AS BIGINT) AS sample_rate,
              CAST(1 AS BIGINT) AS n_channels,
              CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n_samples,
              CAST((octet_length(encode(text)) // 2) * 1000 // 16000 AS BIGINT)
                AS duration_ms,
              CAST(NULL AS BIGINT) AS rms_amp
       FROM documents""",
)
def mm_audio_features(spark, sf_dir):
    """Audio feature extraction plumbing: payload treated as 16 kHz mono
    PCM16 by the fake decoder (header-free arithmetic → SQL-oracle-able);
    ``decoder="real"`` parses genuine RIFF/PCM WAV via the bundled
    pure-Python codec incl. RMS (`tests/test_pipeline_ops.py` drives it on
    generated fixtures)."""
    from .pipeline.multimodal import audio_features, with_binary_payload

    e = engine_for(spark, sf_dir)
    media = with_binary_payload(e.table("documents"), "text", "doc_id")
    return audio_features(media, decoder="fake")


# =====================================================================
# Training-export operators (pipeline/export.py): leakage-safe splits +
# deterministic shuffle-to-shards — the last mile of a training-data
# pipeline (driver mandate; no reference analogue).
# =====================================================================


def _split_oracle() -> str:
    from .pipeline.export import assign_split_sql

    case = assign_split_sql("user_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return f"""WITH s AS (SELECT user_id, {case} AS split FROM events)
       SELECT split, count(*) AS n_rows, count(DISTINCT user_id) AS n_users
       FROM s GROUP BY split"""


@query("train_split_leakage_safe", _split_oracle())
def train_split_leakage_safe(spark, sf_dir):
    """Leakage-safe 80/10/10 train/val/test split: the split hash is
    computed on the LEAKAGE UNIT (user_id), so every event of a user lands
    in one split — the guarantee rand()-per-row violates and the one that
    matters for eval integrity.  Deterministic integer mix (not seeded
    rand(), which is partitioning-dependent): same assignment on any
    cluster size, any engine — which is exactly how the DuckDB oracle can
    agree bit-for-bit.  The assignment itself is a pure projection (zero
    shuffle); only this summary aggregates."""
    from .pipeline.export import assign_split

    e = engine_for(spark, sf_dir)
    ev = assign_split(
        e.table("events"), "user_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return ev.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


def _shards_oracle(n_shards: int = 8) -> str:
    from .pipeline.export import knuth_mix_sql

    hh = knuth_mix_sql("doc_id")
    return f"""WITH h AS (SELECT doc_id, {hh} AS hh FROM documents),
       s AS (SELECT doc_id, hh % {n_shards} AS shard,
                    row_number() OVER (PARTITION BY hh % {n_shards}
                                       ORDER BY hh, doc_id) - 1 AS pos
             FROM h)
       SELECT shard, count(*) AS n_docs,
              max(pos) AS max_pos,
              CAST(sum((pos + 1) * doc_id) AS BIGINT) AS perm_checksum
       FROM s GROUP BY shard"""


@query("export_shuffled_shards", _shards_oracle())
def export_shuffled_shards(spark, sf_dir):
    """Deterministic global shuffle + sharding for training export
    (`pipeline/export.shuffled_shards`): shard = mix(doc_id) % 8, in-shard
    order = (mix, id) — a reproducible pseudorandom permutation (identical
    shards from any cluster size; rand() ordering cannot promise that).
    Verified via per-shard count, max position (= count-1 proves the
    positions are dense 0..n-1) and a POSITION-WEIGHTED checksum — any
    reordering of the permutation changes it.  Plan: one hash exchange on
    shard + per-shard window sort (no global single-task sort); at 100 TB
    pick shards ≫ executors so each in-shard sort fits an executor."""
    from .pipeline.export import shuffled_shards

    e = engine_for(spark, sf_dir)
    s = shuffled_shards(e.table("documents"), "doc_id", 8)
    return s.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("shuffle_pos").alias("max_pos"),
        F.sum((F.col("shuffle_pos") + 1) * F.col("doc_id"))
        .cast("long")
        .alias("perm_checksum"),
    )


@query(
    "tfidf_top_terms",
    """WITH toks AS (
         SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         FROM documents WHERE length(trim(text)) > 0
       ),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       dfq AS (SELECT term, count(*) AS dfq FROM tf GROUP BY term),
       n AS (SELECT count(*) AS n_docs FROM documents),
       scored AS (
         SELECT doc_id, term, tf,
                CAST(tf AS DOUBLE) * (CAST(n_docs + 1 AS DOUBLE)
                                      / CAST(dfq + 1 AS DOUBLE)) AS score
         FROM tf JOIN dfq USING (term) CROSS JOIN n
       )
       SELECT doc_id, term, tf, score
       FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, term ASC) AS rn
             FROM scored)
       WHERE rn <= 3""",
)
def tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF keywords per document (`pipeline/text.tfidf_top_terms`).
    The idf factor is the log-free rational (N+1)/(df+1) — a deterministic
    IEEE product both engines compute identically (no libm `ln`).  Plan:
    two combiner-friendly shuffles (doc×term tf, term df), 1-row broadcast
    of N, per-doc top-k window over (doc, term, tf) rows only."""
    from .pipeline.text import tfidf_top_terms as tt

    e = engine_for(spark, sf_dir)
    return tt(e.table("documents"), k=3)


@query(
    "bigram_lift",
    """WITH t AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS tk
                  FROM documents WHERE length(trim(text)) > 0),
       uni AS (SELECT unnest(tk) AS w FROM t),
       uc AS (SELECT w, count(*) AS c_w FROM uni GROUP BY w),
       nu AS (SELECT count(*) AS n_uni FROM uni),
       bg AS (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                                           i -> tk[i] || ' ' || tk[i+1])) AS bigram
              FROM t),
       bc AS (SELECT bigram, count(*) AS c_ab FROM bg GROUP BY bigram),
       nb AS (SELECT count(*) AS n_bi FROM bg),
       top AS (SELECT bigram, c_ab FROM bc ORDER BY c_ab DESC, bigram ASC LIMIT 50)
       SELECT bigram, c_ab, c_a, c_b,
              (CAST(c_ab AS DOUBLE) / CAST(n_bi AS DOUBLE)) /
              ((CAST(c_a AS DOUBLE) / CAST(n_uni AS DOUBLE))
               * (CAST(c_b AS DOUBLE) / CAST(n_uni AS DOUBLE))) AS lift
       FROM top
       JOIN (SELECT w AS w1, c_w AS c_a FROM uc) u1
         ON split_part(bigram, ' ', 1) = w1
       JOIN (SELECT w AS w2, c_w AS c_b FROM uc) u2
         ON split_part(bigram, ' ', 2) = w2
       CROSS JOIN nu CROSS JOIN nb""",
)
def bigram_lift(spark, sf_dir):
    """Collocation mining (`pipeline/text.bigram_lift`): lift
    P(ab)/(P(a)P(b)) — the log-free core of PMI — for the 50 most frequent
    corpus bigrams.  Plan: hash-agg unigram + bigram counts,
    TakeOrderedAndProject top-50 (never a global sort), unigram counts
    re-attached to the tiny top set, corpus totals as 1-row broadcasts."""
    from .pipeline.text import bigram_lift as bl

    e = engine_for(spark, sf_dir)
    return bl(e.table("documents"), top_n=50)


@query(
    "dedup_editdistance",
    """WITH pre AS (
         SELECT doc_id, substr(text, 1, 32) AS pre,
                array_to_string(
                  (regexp_split_to_array(trim(substr(text, 1, 32)), '\\s+'))[1:2],
                  ' ') AS blk
         FROM documents
       )
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              levenshtein(a.pre, b.pre) AS dist
       FROM pre a JOIN pre b ON a.blk = b.blk AND a.doc_id < b.doc_id
       WHERE levenshtein(a.pre, b.pre) <= 10""",
)
def dedup_editdistance(spark, sf_dir):
    """Blocked edit-distance near-dup pairs
    (`pipeline/dedup.editdistance_pairs`): Levenshtein ≤ 10 over 32-char
    prefixes, candidates blocked on the first two tokens — the
    order-sensitive complement to the set-based detectors (MinHash /
    Jaccard under-score small in-place edits).  Plan: one shuffle on the
    block key, pairs only inside blocks, built-in JVM levenshtein
    (whole-stage codegen, bounded prefix → constant per-pair cost)."""
    from .pipeline.dedup import editdistance_pairs

    e = engine_for(spark, sf_dir)
    return editdistance_pairs(
        e.table("documents"), prefix_len=32, max_dist=10
    )


@query(
    "skew_profile_users",
    """WITH counts AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
       totals AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                         count(*) AS n_keys FROM counts),
       top AS (SELECT user_id, cnt FROM counts
               ORDER BY cnt DESC, user_id ASC LIMIT 20),
       ranked AS (SELECT user_id, cnt,
                    row_number() OVER (ORDER BY cnt DESC, user_id ASC) AS rank,
                    sum(cnt) OVER (ORDER BY cnt DESC, user_id ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum_cnt
                  FROM top)
       SELECT user_id, cnt, rank,
              CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
              CAST(cnt * n_keys AS DOUBLE) / CAST(total AS DOUBLE) AS skew_ratio,
              CAST(cum_cnt AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share,
              n_keys, total
       FROM ranked CROSS JOIN totals""",
)
def skew_profile_users(spark, sf_dir):
    """Shuffle-key skew diagnostics (`pipeline/stats.key_skew_profile`)
    over events.user_id: heaviest 20 keys with corpus share, uniform-ratio
    and cumulative share — the pre-flight check that decides when a join
    key needs salting (`pipeline/skew.py`).  Plan: combiner hash-agg →
    TakeOrderedAndProject top-20 → 20-row cumulative window + 1-row
    broadcast totals."""
    from .pipeline.stats import key_skew_profile

    e = engine_for(spark, sf_dir)
    return key_skew_profile(e.table("events"), "user_id", top_n=20)


@query(
    "sketch_kmv_overlap",
    """WITH h AS (
         SELECT DISTINCT event_type AS s,
                ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS hv
         FROM events
       ), sk AS (
         SELECT s, hv FROM (
           SELECT s, hv, row_number() OVER (PARTITION BY s ORDER BY hv) AS rn
           FROM h)
         WHERE rn <= 64
       ), per AS (
         SELECT s, CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                        ELSE 63.0 / (CAST(max(hv) AS DOUBLE) / 4503599627370496.0)
                   END AS est
         FROM sk GROUP BY s
       ), sl AS (SELECT DISTINCT s FROM sk),
       pairs AS (SELECT a.s AS sa, b.s AS sb FROM sl a JOIN sl b ON a.s < b.s),
       merged AS (
         SELECT DISTINCT sa, sb, hv FROM (
           SELECT p.sa, p.sb, k.hv FROM pairs p JOIN sk k ON k.s = p.sa
           UNION ALL
           SELECT p.sa, p.sb, k.hv FROM pairs p JOIN sk k ON k.s = p.sb)
       ), usk AS (
         SELECT sa, sb,
                CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                     ELSE 63.0 / (CAST(max(hv) AS DOUBLE) / 4503599627370496.0)
                END AS est_union
         FROM (SELECT sa, sb, hv,
                      row_number() OVER (PARTITION BY sa, sb ORDER BY hv) AS rn
               FROM merged)
         WHERE rn <= 64 GROUP BY sa, sb
       )
       SELECT u.sa, u.sb, ea.est AS est_a, eb.est AS est_b, u.est_union,
              greatest(0.0, ea.est + eb.est - u.est_union) AS est_intersection
       FROM usk u JOIN per ea ON ea.s = u.sa JOIN per eb ON eb.s = u.sb""",
)
def sketch_kmv_overlap(spark, sf_dir):
    """Pairwise audience-overlap estimates between event types
    (`pipeline/sketch.kmv_pair_overlap`): KMV |A|, |B|, |A∪B| and
    inclusion-exclusion |A∩B| per slice pair — mergeable sketches doing
    set algebra without ever comparing the underlying user sets.  Plan:
    per-slice top-k over distinct (slice, hash) rows, pair union over
    ≤ k·slices sketch rows; exact when a merged sketch stays under k."""
    from .pipeline.sketch import kmv_pair_overlap

    e = engine_for(spark, sf_dir)
    return kmv_pair_overlap(e.table("events"), "event_type", "user_id", k=64)


@query(
    "decayed_user_activity",
    """WITH b AS (
         SELECT event_id, user_id, ts,
                CAST(floor(value * 1000000.0) AS BIGINT) AS qv
         FROM events
       ), wnd AS (
         SELECT event_id, user_id, ts,
                list(qv) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS arr
         FROM b
       )
       SELECT event_id, user_id,
              CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
              CAST(list_sum(list_transform(generate_series(0, len(arr) - 1),
                   i -> arr[len(arr) - i] >> i)) AS DOUBLE) / 1000000.0
                AS decayed_score
       FROM wnd""",
)
def decayed_user_activity(spark, sf_dir):
    """Recency-weighted per-event activity score
    (`pipeline/stats.decayed_activity`): Σ value_{t-j}·2^(−j) over each
    user's last 16 events — the engagement / fraud-velocity feature.
    Exact integer arithmetic: quantize to floor(v·1e6), decay by
    arithmetic shift (no pow()), identical in both engines.  Plan: one
    hash exchange on user + ROWS-bounded ordered window (constant state
    per row)."""
    from .pipeline.stats import decayed_activity

    e = engine_for(spark, sf_dir)
    out = decayed_activity(e.table("events"), window_rows=16)
    return out.select(
        "event_id", "user_id", _epoch("ts").alias("ts_epoch"), "decayed_score"
    )


@query(
    "kanonymity_audit",
    """SELECT c_nationkey, c_mktsegment, count(*) AS group_size
       FROM customer
       GROUP BY c_nationkey, c_mktsegment
       HAVING count(*) < 5""",
)
def kanonymity_audit(spark, sf_dir):
    """Privacy release audit (`pipeline/stats.kanonymity_audit`):
    quasi-identifier combinations (nation × market segment) with fewer
    than k=5 members — the groups a data release would re-identify.
    One combiner-friendly groupBy; output is only the violating groups."""
    from .pipeline.stats import kanonymity_audit as ka

    e = engine_for(spark, sf_dir)
    return ka(e.table("customer"), ("c_nationkey", "c_mktsegment"), k=5)


@query(
    "graph_pagerank_copurchase",
    """WITH e0 AS (
         SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY pa, pb HAVING count(*) >= 2
       ),
       de AS (SELECT pa AS src, pb AS dst FROM e0
              UNION ALL SELECT pb, pa FROM e0),
       deg AS (SELECT src AS v, count(*) AS outdeg FROM de GROUP BY src),
       n AS (SELECT count(*) AS nv FROM deg),
       c0 AS (SELECT CAST(1000000 // nv AS BIGINT) AS r0,
                     CAST(floor((1.0 - 0.85) * 1000000.0 / nv) AS BIGINT) AS tele
              FROM n),
       it1 AS (
         SELECT d.v,
                tele + CAST(floor(0.85 * CAST(COALESCE(s.sc, 0) AS DOUBLE))
                            AS BIGINT) AS rq
         FROM deg d CROSS JOIN c0
         LEFT JOIN (
           SELECT de.dst AS v,
                  sum(CAST(floor(CAST(r0 AS DOUBLE) / deg.outdeg) AS BIGINT)) AS sc
           FROM de JOIN deg ON de.src = deg.v CROSS JOIN c0
           GROUP BY de.dst
         ) s ON s.v = d.v
       ),
       it2 AS (
         SELECT d.v,
                tele + CAST(floor(0.85 * CAST(COALESCE(s.sc, 0) AS DOUBLE))
                            AS BIGINT) AS rq
         FROM deg d CROSS JOIN c0
         LEFT JOIN (
           SELECT de.dst AS v,
                  sum(CAST(floor(CAST(i.rq AS DOUBLE) / deg.outdeg) AS BIGINT)) AS sc
           FROM de JOIN it1 i ON de.src = i.v JOIN deg ON deg.v = i.v
           GROUP BY de.dst
         ) s ON s.v = d.v
       )
       SELECT v, rq AS rank_micro, CAST(rq AS DOUBLE) / 1000000.0 AS rank_value
       FROM it2 ORDER BY rq DESC, v ASC LIMIT 20""",
)
def graph_pagerank_copurchase(spark, sf_dir):
    """Iterative PageRank, FULLY hash-oracled
    (`pipeline/graph.pagerank_quantized`): ranks as floor-quantized
    micro-units, per-edge contributions by floor division, damping
    multiply floored back to int64 — both Lloyd-style iterations unroll
    in ANSI SQL and match bit for bit (float PageRank's order-dependent
    sums never could).  Per iteration: one ranks⋈edges hash join + one
    combiner aggregate on the target vertex — the classic distributed
    step; top-20 via TakeOrderedAndProject."""
    from .pipeline.graph import co_occurrence_edges, pagerank_quantized

    e = engine_for(spark, sf_dir)
    edges = co_occurrence_edges(
        e.table("lineitem"), "l_orderkey", "l_partkey", min_support=2
    )
    out = pagerank_quantized(edges, iters=2, top_k=20)
    return out.withColumnRenamed("rank", "rank_value")


@query(
    "graph_triangles_copurchase",
    """WITH e AS (
         SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY pa, pb HAVING count(*) >= 2
       ),
       deg AS (SELECT v, count(*) AS deg FROM
                 (SELECT pa AS v FROM e UNION ALL SELECT pb FROM e)
               GROUP BY v),
       w AS (SELECT CAST(COALESCE(sum(deg * (deg - 1) / 2), 0) AS BIGINT)
                      AS n_wedges FROM deg),
       t AS (SELECT count(*) AS n_triangles
             FROM e e1 JOIN e e2 ON e1.pb = e2.pa
             JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
       ne AS (SELECT count(*) AS n_edges FROM e)
       SELECT CAST(n_edges AS BIGINT) AS n_edges, n_wedges,
              CAST(n_triangles AS BIGINT) AS n_triangles,
              CASE WHEN n_wedges = 0 THEN 0.0
                   ELSE CAST(3 * n_triangles AS DOUBLE)
                        / CAST(n_wedges AS DOUBLE) END AS global_clustering
       FROM ne, w, t""",
)
def graph_triangles_copurchase(spark, sf_dir):
    """Graph analytics beyond connected components
    (`pipeline/graph.triangle_stats`): exact triangle count and global
    clustering coefficient of the co-purchase graph (parts sharing an
    order, line-level support ≥ 2).  Canonical a<b edge orientation
    counts each triangle once as a wedge (x,y)+(y,z) closed by (x,z) —
    two hash joins, no adjacency materialization, no driver-side graph;
    at 100 TB bound the wedge set by support/degree thresholds BEFORE
    the join."""
    from .pipeline.graph import co_occurrence_edges, triangle_stats

    e = engine_for(spark, sf_dir)
    edges = co_occurrence_edges(
        e.table("lineitem"), "l_orderkey", "l_partkey", min_support=2
    )
    return triangle_stats(edges)


@query(
    "interarrival_percentiles",
    """WITH g AS (
         SELECT event_type,
                CAST(floor(epoch(ts)) AS BIGINT)
                - lag(CAST(floor(epoch(ts)) AS BIGINT))
                    OVER (PARTITION BY event_type ORDER BY ts, event_id)
                  AS gap
         FROM events
       ), f AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
       h AS (
         SELECT event_type, gap, count(*) AS c FROM f GROUP BY event_type, gap
       ), cum AS (
         SELECT event_type, gap, c,
                sum(c) OVER (PARTITION BY event_type ORDER BY gap) AS cum
         FROM h
       ), t AS (
         SELECT event_type, sum(c) AS n_rows FROM h GROUP BY event_type
       )
       SELECT cum.event_type AS event_type,
              CAST(min(t.n_rows) AS BIGINT) AS n_rows,
              min(CASE WHEN cum >= ceil(0.5 * t.n_rows) THEN gap END) AS p50,
              min(CASE WHEN cum >= ceil(0.9 * t.n_rows) THEN gap END) AS p90,
              min(CASE WHEN cum >= ceil(0.99 * t.n_rows) THEN gap END) AS p99
       FROM cum JOIN t ON cum.event_type = t.event_type
       GROUP BY cum.event_type""",
)
def interarrival_percentiles(spark, sf_dir):
    """EXACT inter-arrival-gap percentiles per event type — the
    time-series health metric behind SLO/anomaly monitoring ("p99 gap
    between purchases just tripled"). Gaps come from one per-type ordered
    window (lag of epoch seconds, integer-exact), then the same
    histogram-cumulation percentile machinery as
    `exact_value_percentiles` — the only windowed stage after the lag
    runs over histogram rows, never raw gaps."""
    from pyspark.sql import Window

    from .pipeline.stats import exact_group_percentiles

    e = engine_for(spark, sf_dir)
    ev = e.table("events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "event_type",
            (_epoch("ts") - F.lag(_epoch("ts")).over(w)).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    return exact_group_percentiles(gaps, ("event_type",), "gap", (0.5, 0.9, 0.99))


def _lang_confusion_oracle() -> str:
    from .pipeline.text import LANG_MARKERS

    entries = ", ".join(
        "{'s': %s, 'l': '%s'}" % (_lang_score_sql(lang, ws), lang)
        for lang, ws in sorted(LANG_MARKERS.items())
    )
    return f"""WITH s AS (SELECT doc_id, [{entries}] AS ps FROM documents),
       o AS (SELECT doc_id, list_sort(ps) AS arr FROM s)
       SELECT doc_id,
              arr[-1].l AS top_lang, CAST(arr[-1].s AS BIGINT) AS top_score,
              arr[-2].l AS second_lang,
              CAST(arr[-2].s AS BIGINT) AS second_score,
              CAST(arr[-1].s - arr[-2].s AS BIGINT) AS margin
       FROM o"""


@query("lang_confusion_margin", _lang_confusion_oracle())
def lang_confusion_margin(spark, sf_dir):
    """Code-switching / language-purity signal
    (`pipeline/text.lang_confusion`): per doc the top and runner-up
    language-marker scores and their margin — small margins on nonzero
    tops flag mixed-language documents for routing.  Integer scores and
    subtraction only; both engines sort the same (score, lang) structs.
    Pure projection, zero shuffle."""
    from .pipeline.text import lang_confusion

    e = engine_for(spark, sf_dir)
    return lang_confusion(e.table("documents"))


@query(
    "sketch_f2_user_skew",
    """WITH ds AS (SELECT unnest(generate_series(0, 3)) AS d),
       sk AS (
         SELECT d,
                ('0x' || substring(md5('cms' || CAST(d AS VARCHAR) || ':'
                 || CAST(user_id AS VARCHAR)), 1, 13))::BIGINT % 65536 AS b,
                count(*) AS c
         FROM events CROSS JOIN ds GROUP BY d, b
       ),
       dots AS (SELECT d, sum(c * c) AS dot FROM sk GROUP BY d)
       SELECT CAST(min(COALESCE(dot, 0)) AS BIGINT) AS est_f2
       FROM ds LEFT JOIN dots ON ds.d = dots.d""",
)
def sketch_f2_user_skew(spark, sf_dir):
    """Second frequency moment F2 = Σ f_k² of events.user_id — the
    self-join size, THE scalar skew statistic query optimizers use
    (AMS classic; F2 ≫ N²/distinct means a hot key).  Computed as the
    CMS self-inner-product (`pipeline/sketch.cms_join_size_estimate`
    with both sides the same stream).  One combiner sketch aggregation;
    the shuffle carries ≤ d·w counter rows."""
    from .pipeline.sketch import cms_join_size_estimate

    e = engine_for(spark, sf_dir)
    ev = e.table("events")
    return cms_join_size_estimate(
        ev, ev, "user_id", "user_id", width=65536, depth=4
    ).withColumnRenamed("est_join_size", "est_f2")


@query(
    "sketch_join_size",
    """WITH ds AS (SELECT unnest(generate_series(0, 3)) AS d),
       sa AS (
         SELECT d,
                ('0x' || substring(md5('cms' || CAST(d AS VARCHAR) || ':'
                 || CAST(o_custkey AS VARCHAR)), 1, 13))::BIGINT % 65536 AS b,
                count(*) AS ca
         FROM orders CROSS JOIN ds GROUP BY d, b
       ),
       sb AS (
         SELECT d,
                ('0x' || substring(md5('cms' || CAST(d AS VARCHAR) || ':'
                 || CAST(c_custkey AS VARCHAR)), 1, 13))::BIGINT % 65536 AS b,
                count(*) AS cb
         FROM customer CROSS JOIN ds GROUP BY d, b
       ),
       dots AS (
         SELECT sa.d, sum(sa.ca * sb.cb) AS dot
         FROM sa JOIN sb ON sa.d = sb.d AND sa.b = sb.b GROUP BY sa.d
       )
       SELECT CAST(min(COALESCE(dot, 0)) AS BIGINT) AS est_join_size
       FROM ds LEFT JOIN dots ON ds.d = dots.d""",
)
def sketch_join_size(spark, sf_dir):
    """Join-cardinality estimation without running the join
    (`pipeline/sketch.cms_join_size_estimate`): |orders ⋈ customer| on
    custkey via the Count-Min inner-product estimator — min over sketch
    rows of the bucket-wise count dot product (AMS/CMS classic; an upper
    bound, exact when buckets don't collide; measured 1.02-1.23x of the
    true size at w=65536 across SFs).  The what-if input to join
    planning and output sizing.  Plan: one combiner sketch aggregation
    per side (≤ d·w counter rows on the shuffle), cell-on-cell dot."""
    from .pipeline.sketch import cms_join_size_estimate

    e = engine_for(spark, sf_dir)
    return cms_join_size_estimate(
        e.table("orders"), e.table("customer"),
        "o_custkey", "c_custkey", width=65536, depth=4,
    )


@query(
    "group_sample_5_per_lang",
    """SELECT doc_id, lang FROM (
         SELECT doc_id, lang,
                row_number() OVER (
                  PARTITION BY lang
                  ORDER BY ('0x' || substring(md5('g0' || CAST(doc_id AS VARCHAR)),
                            1, 13))::BIGINT ASC, doc_id ASC) AS rn
         FROM documents)
       WHERE rn <= 5""",
)
def group_sample_5_per_lang(spark, sf_dir):
    """Deterministic k-per-group sampling
    (`pipeline/export.group_sample_k`): the 5 smallest-hash docs per
    language — a balanced uniform without-replacement sample, identical
    on any engine/partitioning, with bounded churn under corpus growth
    (a row only leaves when a smaller hash enters its stratum).  Plan:
    one hash exchange on the stratum + per-stratum top-k window; never a
    global sort."""
    from .pipeline.export import group_sample_k

    e = engine_for(spark, sf_dir)
    return group_sample_k(
        e.table("documents"), "lang", "doc_id", k=5
    ).select("doc_id", "lang")


def _profile_oracle() -> str:
    """One UNION ALL branch per profiled lineitem column; numeric means
    use the quantized split-sum so the double chain matches Spark's."""

    def num(col: str, expr: str) -> str:
        q = f"CAST(floor(({expr}) * 1000000.0) AS BIGINT)"
        mean = (
            f"((CAST(sum({q} >> 20) AS DOUBLE) * 1048576.0 + "
            f"CAST(sum({q} & 1048575) AS DOUBLE)) / 1000000.0) "
            f"/ CAST(count({expr}) AS DOUBLE)"
        )
        return f"""SELECT '{col}' AS column_name,
              CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows,
              CAST((SELECT count(*) FROM lineitem WHERE {col} IS NULL) AS BIGINT) AS n_nulls,
              CAST((SELECT count(DISTINCT {col}) FROM lineitem) AS BIGINT) AS n_distinct,
              (SELECT CAST(min({expr}) AS DOUBLE) FROM lineitem) AS min_value,
              (SELECT CAST(max({expr}) AS DOUBLE) FROM lineitem) AS max_value,
              (SELECT {mean} FROM lineitem) AS mean_value"""

    def strcol(col: str) -> str:
        return f"""SELECT '{col}',
              CAST((SELECT count(*) FROM lineitem) AS BIGINT),
              CAST((SELECT count(*) FROM lineitem WHERE {col} IS NULL) AS BIGINT),
              CAST((SELECT count(DISTINCT {col}) FROM lineitem) AS BIGINT),
              CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"""

    branches = [
        num("l_orderkey", "l_orderkey"),
        num("l_quantity", "l_quantity"),
        num("l_extendedprice", "l_extendedprice"),
        num("l_discount", "l_discount"),
        strcol("l_returnflag"),
        num("l_shipdate", "CAST(floor(epoch(l_shipdate)) AS BIGINT)"),
    ]
    return "\nUNION ALL\n".join(branches)


@query("table_profile_lineitem", _profile_oracle())
def table_profile_lineitem(spark, sf_dir):
    """Single-pass column profiling over lineitem
    (`pipeline/quality.profile_columns`): null/distinct counts, min/max,
    and an engine-exact quantized-split-sum mean per column — the
    describe()/Deequ-profiles analogue.  Plan: every column profiles in
    ONE aggregate pass (multi-distinct via Spark's Expand); at 100 TB the
    exact distinct swaps for the KMV sketch, same report shape."""
    from .pipeline.quality import profile_columns

    e = engine_for(spark, sf_dir)
    return profile_columns(
        e.table("lineitem"),
        [
            ("l_orderkey", "num"),
            ("l_quantity", "num"),
            ("l_extendedprice", "num"),
            ("l_discount", "num"),
            ("l_returnflag", "str"),
            ("l_shipdate", "ts"),
        ],
    )


@query(
    "data_quality_report",
    """SELECT 'orders_custkey_not_null' AS check_name, 'orders' AS table_name,
              CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT) AS violations,
              (SELECT count(*) FROM orders WHERE o_custkey IS NULL) = 0 AS passed
       UNION ALL
       SELECT 'lineitem_discount_range', 'lineitem',
              CAST((SELECT count(*) FROM lineitem
                    WHERE l_discount IS NOT NULL
                      AND (l_discount < 0.0 OR l_discount > 0.08)) AS BIGINT),
              (SELECT count(*) FROM lineitem
               WHERE l_discount IS NOT NULL
                 AND (l_discount < 0.0 OR l_discount > 0.08)) = 0
       UNION ALL
       SELECT 'events_type_accepted', 'events',
              CAST((SELECT count(*) FROM events
                    WHERE event_type IS NOT NULL
                      AND event_type NOT IN ('click', 'view', 'purchase')) AS BIGINT),
              (SELECT count(*) FROM events
               WHERE event_type IS NOT NULL
                 AND event_type NOT IN ('click', 'view', 'purchase')) = 0
       UNION ALL
       SELECT 'customer_key_unique', 'customer',
              CAST((SELECT COALESCE(sum(n - 1), 0) FROM (
                      SELECT count(*) AS n FROM customer
                      GROUP BY c_custkey HAVING count(*) > 1)) AS BIGINT),
              (SELECT COALESCE(sum(n - 1), 0) FROM (
                 SELECT count(*) AS n FROM customer
                 GROUP BY c_custkey HAVING count(*) > 1)) = 0
       UNION ALL
       SELECT 'orders_customer_fk', 'orders',
              CAST((SELECT count(*) FROM orders o
                    WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
                        SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
              (SELECT count(*) FROM orders o
               WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
                   SELECT 1 FROM customer c
                   WHERE c.c_custkey = o.o_custkey)) = 0
       UNION ALL
       SELECT 'lineitem_part_fk', 'lineitem',
              CAST((SELECT count(*) FROM lineitem l
                    WHERE l.l_partkey IS NOT NULL AND NOT EXISTS (
                        SELECT 1 FROM part p
                        WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
              (SELECT count(*) FROM lineitem l
               WHERE l.l_partkey IS NOT NULL AND NOT EXISTS (
                   SELECT 1 FROM part p
                   WHERE p.p_partkey = l.l_partkey)) = 0""",
)
def data_quality_report(spark, sf_dir):
    """Deequ/dbt-test-style constraint suite (`pipeline/quality.check_report`):
    not-null, value-range, accepted-values, key-uniqueness, and two
    referential-integrity checks over the driver tables, reduced to one
    (check, table, violations, passed) row each.  Plan: row-level checks
    on the same table FUSE into one conditional-count aggregate pass;
    uniqueness is a combiner groupBy shipping only duplicated keys; FK is
    a broadcast left-anti join; the union carries six 1-row frames."""
    from .pipeline.quality import check_report

    e = engine_for(spark, sf_dir)
    return check_report(
        e,
        [
            {"name": "orders_custkey_not_null", "table": "orders",
             "kind": "not_null", "col": "o_custkey"},
            {"name": "lineitem_discount_range", "table": "lineitem",
             "kind": "in_range", "col": "l_discount", "lo": 0.0, "hi": 0.08},
            {"name": "events_type_accepted", "table": "events",
             "kind": "accepted", "col": "event_type",
             "values": ("click", "view", "purchase")},
            {"name": "customer_key_unique", "table": "customer",
             "kind": "unique", "cols": ("c_custkey",)},
            {"name": "orders_customer_fk", "table": "orders",
             "kind": "fk", "col": "o_custkey",
             "ref_table": "customer", "ref_col": "c_custkey"},
            {"name": "lineitem_part_fk", "table": "lineitem",
             "kind": "fk", "col": "l_partkey",
             "ref_table": "part", "ref_col": "p_partkey"},
        ],
    )


@query(
    "frequent_event_sequences",
    """WITH s AS (
         SELECT event_type || '>' ||
                lead(event_type, 1) OVER w || '>' ||
                lead(event_type, 2) OVER w AS seq
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ),
       f AS (SELECT seq FROM s WHERE seq IS NOT NULL),
       c AS (SELECT seq, count(*) AS n FROM f GROUP BY seq),
       t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM f)
       SELECT seq, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS support
       FROM (SELECT seq, n FROM c ORDER BY n DESC, seq ASC LIMIT 20) top
       CROSS JOIN t""",
)
def frequent_event_sequences(spark, sf_dir):
    """Top-20 contiguous 3-event behavioral sequences
    (`pipeline/stats.frequent_sequences`) — the n>2 generalization of the
    Markov transition matrix for journey mining.  Plan: per-user window
    builds trigrams with lead columns (no arrays, constant state),
    combiner groupBy counts, TakeOrderedAndProject top-k, 1-row broadcast
    denominator."""
    from .pipeline.stats import frequent_sequences

    e = engine_for(spark, sf_dir)
    return frequent_sequences(
        e.table("events"), order_tiebreak="event_id", n=3, top_k=20
    )


@query(
    "mix_token_budget",
    """WITH d AS (
         SELECT doc_id, lang,
                CAST(len(list_filter(regexp_split_to_array(trim(text),
                  '\\s+'), w -> w <> '')) AS BIGINT) AS n_tokens
         FROM documents
       ), c AS (
         SELECT doc_id, lang, n_tokens,
                sum(n_tokens) OVER (PARTITION BY lang
                  ORDER BY n_tokens DESC, doc_id ASC
                  ROWS UNBOUNDED PRECEDING) AS cum_tokens
         FROM d
       ), b(lang, budget) AS (
         VALUES ('en', CAST(4000 AS BIGINT)), ('de', 1500),
                ('es', 1200), ('fr', 900)
       )
       SELECT c.doc_id, c.lang, c.n_tokens,
              CAST(c.cum_tokens AS BIGINT) AS cum_tokens
       FROM c JOIN b USING (lang)
       WHERE c.cum_tokens - c.n_tokens < b.budget""",
)
def mix_token_budget(spark, sf_dir):
    """Token-budget mixture assembly (`pipeline/export.token_budget_mix`):
    per-language budgets (en 4000 / de 1500 / es 1200 / fr 900 tokens;
    zh unbudgeted → dropped) filled greedily longest-first — each budget
    is met or exceeded by less than one document, the guarantee rate
    sampling can't give ("train on N tokens of X").  One stratum
    exchange + running sum, budgets broadcast; every count and cumsum is
    an exact BIGINT, so the kept set value-hashes."""
    from .pipeline.export import token_budget_mix

    e = engine_for(spark, sf_dir)
    return token_budget_mix(
        e.table("documents"),
        "lang",
        {"en": 4000, "de": 1500, "es": 1200, "fr": 900},
    )


@query(
    "temperature_sample_by_lang",
    """WITH c AS (
         SELECT lang, count(*) AS c,
                CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS wq
         FROM documents WHERE lang IS NOT NULL GROUP BY lang
       ),
       t AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(wq) AS BIGINT) AS W FROM c),
       r AS (SELECT lang, c,
                    least(1.0,
                          CAST(floor(CAST(n AS DOUBLE) * 0.5) AS DOUBLE)
                          * CAST(wq AS DOUBLE)
                          / CAST(W AS DOUBLE) / CAST(c AS DOUBLE)) AS p_keep
             FROM c CROSS JOIN t),
       k AS (SELECT d.lang FROM documents d JOIN r USING (lang)
             WHERE ('0x' || substring(md5('t0' || CAST(d.doc_id AS VARCHAR)), 1, 13))::BIGINT
                   < CAST(floor(p_keep * 4503599627370496.0) AS BIGINT))
       SELECT r.lang, r.c AS n_docs, r.p_keep,
              COALESCE(kc.n_kept, 0) AS n_kept
       FROM r LEFT JOIN (SELECT lang, count(*) AS n_kept FROM k GROUP BY lang) kc
         USING (lang)""",
)
def temperature_sample_by_lang(spark, sf_dir):
    """α=0.5 temperature sampling summary
    (`pipeline/export.temperature_sample`): per-language corpus size, the
    computed keep probability (output shares ∝ √size at a 50% total
    budget — the multilingual head-flattening rebalance), and the rows
    actually kept by the deterministic hash rule.  α=0.5 because IEEE
    sqrt is correctly rounded (pow(x, α) is not) and the √ weights are
    floor-quantized to int64 before the normalizing sum — no float
    accumulation order anywhere.  Plan: rates broadcast onto a
    projection+filter; the corpus never shuffles."""
    from .pipeline.export import temperature_rates, temperature_sample

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    rates = temperature_rates(docs, "lang", 0.5)
    kept = (
        temperature_sample(docs, "lang", "doc_id", 0.5)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("c").alias("n_docs"),
            "p_keep",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


# =====================================================================
# Product quantization ANN (pipeline/pq.py): the compression half of
# IVF-PQ — per-subspace quantized-L2 k-means codebooks + ADC top-k,
# every iteration unrolled in the oracle (the IVF/SemDeDup discipline
# applied to L2 distances).
# =====================================================================


def _pq_iter_cte(i: int, dsub: int, src: str = "ve") -> str:
    """One unrolled PQ Lloyd iteration: per-(vector, subspace) argmin
    assignment under quantized L2 against codebook set pc{i-1}, then
    floor-quantized per-(sub, code, pos) means; empty codes keep their
    previous centroid.  Expects ``{src}`` (vec_id, pos, x) upstream."""
    prev = f"pc{i - 1}"
    return f"""pa{i} AS (
  SELECT vec_id, sub, code FROM (
    SELECT sv.vec_id, c.sub, c.code,
           row_number() OVER (PARTITION BY sv.vec_id, c.sub
             ORDER BY sum(CAST(floor((sv.x - c.cval) * (sv.x - c.cval) * 1e10)
                               AS BIGINT)) ASC,
                      c.code ASC) AS rn
    FROM {src} sv JOIN {prev} c ON sv.pos = c.pos
    GROUP BY sv.vec_id, c.sub, c.code
  ) WHERE rn = 1
), pm{i} AS (
  SELECT a.sub, a.code, sv.pos,
         CAST(sum(CAST(floor(sv.x * 1e10) AS BIGINT)) AS DOUBLE)
           / count(*) / 1e10 AS cval
  FROM pa{i} a JOIN {src} sv ON sv.vec_id = a.vec_id
       AND sv.pos >= a.sub * {dsub} AND sv.pos < (a.sub + 1) * {dsub}
  GROUP BY a.sub, a.code, sv.pos
), pc{i} AS (
  SELECT c.sub, c.code, c.pos, coalesce(m.cval, c.cval) AS cval
  FROM {prev} c LEFT JOIN pm{i} m
    ON m.sub = c.sub AND m.code = c.code AND m.pos = c.pos
)"""


def _pq_oracle(
    m: int = 8, k: int = 16, dim: int = 64, topk: int = 10
) -> str:
    dsub = dim // m
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), ve AS (
  SELECT vec_id, i.i - 1 AS pos, e[i.i] AS x
  FROM v CROSS JOIN LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) i
), seeds AS (
  SELECT e, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM v ORDER BY vec_id LIMIT {k}
), pc0 AS (
  SELECT (i.i - 1) // {dsub} AS sub, s.code, i.i - 1 AS pos, s.e[i.i] AS cval
  FROM seeds s CROSS JOIN LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) i
), {_pq_iter_cte(1, dsub)}, {_pq_iter_cte(2, dsub)}, {_pq_iter_cte(3, dsub)},
qv AS (
  SELECT pos, x FROM ve WHERE vec_id = 0
), tb AS (
  SELECT c.sub, c.code,
         sum(CAST(floor((q.x - c.cval) * (q.x - c.cval) * 1e10) AS BIGINT)) AS qd
  FROM pc2 c JOIN qv q ON q.pos = c.pos GROUP BY c.sub, c.code
)
SELECT e.vec_id, CAST(sum(t.qd) AS BIGINT) AS adist
FROM pa3 e JOIN tb t ON t.sub = e.sub AND t.code = e.code
GROUP BY e.vec_id
ORDER BY adist ASC, e.vec_id ASC LIMIT {topk}"""


def _ivfpq_oracle(
    n_coarse: int = 8,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    nprobe: int = 4,
    topk: int = 10,
    rerank_topk: int | None = None,
) -> str:
    """Full IVF-PQ replay: 2-iteration coarse k-means (shared
    `_kmeans_iter_cte`; a3 = final assignment), per-vector residuals,
    2-iteration residual-PQ codebooks (`_pq_iter_cte` over ``ver``;
    pa3 = final encoding), exact-score probe ranking, per-probe
    query-residual ADC tables, and the probed integer-sum top-k.
    With ``rerank_topk``, the ADC top-``topk`` becomes a shortlist CTE
    and the final answer is the exact decimal-accumulated cosine
    re-rank of just those candidates (mirroring
    `pipeline/pq.ivfpq_rerank`)."""
    dsub = dim // m
    rerank_tail = "" if rerank_topk is None else f""",
rr AS (
  SELECT ve.vec_id, ve.pos, ve.x
  FROM ve JOIN short ON short.vec_id = ve.vec_id
), racc AS (
  SELECT rr.vec_id,
         sum(CAST(rr.x * qv.x AS DECIMAL(38,14))) AS dot_d,
         sum(CAST(rr.x * rr.x AS DECIMAL(38,14))) AS n_e,
         sum(CAST(qv.x * qv.x AS DECIMAL(38,14))) AS n_q
  FROM rr JOIN qv USING (pos) GROUP BY rr.vec_id
)
SELECT vec_id,
       CAST(dot_d AS DOUBLE)
         / (sqrt(CAST(n_e AS DOUBLE)) * sqrt(CAST(n_q AS DOUBLE))) AS cosine
FROM racc ORDER BY cosine DESC, vec_id ASC LIMIT {rerank_topk}"""
    short_open = "" if rerank_topk is None else ", short AS (\n"
    short_close = "" if rerank_topk is None else ")"
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), ve AS (
  SELECT vec_id, i.i - 1 AS pos, e[i.i] AS x
  FROM v CROSS JOIN LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) i
), c0 AS (
  SELECT s.vec_id AS cid, i.i - 1 AS pos, s.e[i.i] AS cval
  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {n_coarse}) s
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) i
), {_kmeans_iter_cte(1, "c0")}, {_kmeans_iter_cte(2, "c1")},
{_kmeans_iter_cte(3, "c2")},
ver AS (
  SELECT ve.vec_id, ve.pos, ve.x - c.cval AS x
  FROM ve JOIN a3 ON a3.vec_id = ve.vec_id
  JOIN c2 c ON c.cid = a3.centroid AND c.pos = ve.pos
), pseed AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT DISTINCT vec_id FROM ver ORDER BY vec_id LIMIT {k})
), pc0 AS (
  SELECT r.pos // {dsub} AS sub, p.code, r.pos, r.x AS cval
  FROM ver r JOIN pseed p USING (vec_id)
), {_pq_iter_cte(1, dsub, "ver")}, {_pq_iter_cte(2, dsub, "ver")},
{_pq_iter_cte(3, dsub, "ver")},
qv AS (
  SELECT pos, x FROM ve WHERE vec_id = 0
), cqn AS (
  SELECT cid, sum(CAST(floor(cval * cval * 1e10) AS BIGINT)) AS qn
  FROM c2 GROUP BY cid
), cqd AS (
  SELECT c.cid, sum(CAST(floor(qv.x * c.cval * 1e10) AS BIGINT)) AS qd
  FROM c2 c JOIN qv ON qv.pos = c.pos GROUP BY c.cid
), pr AS (
  SELECT cid FROM (
    SELECT cqd.cid,
           row_number() OVER (ORDER BY CAST(cqd.qd AS DOUBLE)
             / (CASE WHEN cqn.qn = 0 THEN 1.0
                     ELSE sqrt(CAST(cqn.qn AS DOUBLE)) END) DESC,
             cqd.cid ASC) AS rn
    FROM cqd JOIN cqn USING (cid)
  ) WHERE rn <= {nprobe}
), qres AS (
  SELECT c.cid, c.pos, qv.x - c.cval AS x
  FROM c2 c JOIN qv ON qv.pos = c.pos
  WHERE c.cid IN (SELECT cid FROM pr)
), tb AS (
  SELECT q.cid, pcf.sub, pcf.code,
         sum(CAST(floor((q.x - pcf.cval) * (q.x - pcf.cval) * 1e10)
                  AS BIGINT)) AS qd
  FROM qres q JOIN pc2 pcf ON pcf.pos = q.pos
  GROUP BY 1, 2, 3
)
{short_open}SELECT e.vec_id, CAST(sum(t.qd) AS BIGINT) AS adist
FROM pa3 e
JOIN a3 ON a3.vec_id = e.vec_id
JOIN tb t ON t.cid = a3.centroid AND t.sub = e.sub AND t.code = e.code
GROUP BY e.vec_id
ORDER BY adist ASC, e.vec_id ASC LIMIT {topk}{short_close}{rerank_tail}"""


@query("sim_ivfpq_topk", _ivfpq_oracle())
def sim_ivfpq_topk(spark, sf_dir):
    """Full IVF-PQ ANN (`pipeline/pq.ivfpq_build` / `ivfpq_search`) — the
    billion-scale architecture end to end: the engine's exact-math coarse
    quantizer partitions the space (8 cells; probe lists prune
    partitions when the index is stored `ivf_write`-style), each vector's
    RESIDUAL is product-quantized (8×16 codebooks — residual energy is
    what PQ compresses well), and the query probes 4 cells with
    per-probe query-residual ADC tables (the asymmetric part), scoring
    candidates with broadcast-joined integer sums.  Coarse training,
    assignment, residual codebooks, encoding, probe ranking, and ADC are
    ALL unrolled in the oracle — the full index build + search
    trajectory value-hashes."""
    from .pipeline.pq import ivfpq_build, ivfpq_search

    e = engine_for(spark, sf_dir)
    emb = e.table("embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    cents, books, enc = ivfpq_build(emb, n_coarse=8, m=8, k=16, iters=2)
    return ivfpq_search(enc, cents, books, qvec, nprobe=4, topk=10)


def _ivfpq_stream_oracle(
    n_coarse: int = 8, m: int = 8, k: int = 16, dim: int = 64
) -> str:
    """Streaming-ingest replay: the index is TRAINED on the snapshot only
    (even vec_ids — ``ves``/``vers`` restrict every Lloyd mean), then ALL
    vectors (snapshot + streamed) are assigned and encoded against the
    frozen state via one extra assignment-only iteration over the full
    table (a3 / pa3; the unused mean CTEs stay lazy).  Output = the final
    stored index, one row per (vector, subspace)."""
    dsub = dim // m
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), ve AS (
  SELECT vec_id, i.i - 1 AS pos, e[i.i] AS x
  FROM v CROSS JOIN LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) i
), ves AS (
  SELECT * FROM ve WHERE vec_id % 2 = 0
), c0 AS (
  SELECT s.vec_id AS cid, i.i - 1 AS pos, s.e[i.i] AS cval
  FROM (SELECT vec_id, e FROM v WHERE vec_id % 2 = 0
        ORDER BY vec_id LIMIT {n_coarse}) s
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) i
), {_kmeans_iter_cte(1, "c0", "ves")}, {_kmeans_iter_cte(2, "c1", "ves")},
{_kmeans_iter_cte(3, "c2", "ve")},
ver AS (
  SELECT ve.vec_id, ve.pos, ve.x - c.cval AS x
  FROM ve JOIN a3 ON a3.vec_id = ve.vec_id
  JOIN c2 c ON c.cid = a3.centroid AND c.pos = ve.pos
), vers AS (
  SELECT * FROM ver WHERE vec_id % 2 = 0
), pseed AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT DISTINCT vec_id FROM vers ORDER BY vec_id LIMIT {k})
), pc0 AS (
  SELECT r.pos // {dsub} AS sub, p.code, r.pos, r.x AS cval
  FROM vers r JOIN pseed p USING (vec_id)
), {_pq_iter_cte(1, dsub, "vers")}, {_pq_iter_cte(2, dsub, "vers")},
{_pq_iter_cte(3, dsub, "ver")}
SELECT e.vec_id, a3.centroid AS cid, e.sub, e.code
FROM pa3 e JOIN a3 USING (vec_id)"""


@query("stream_ivfpq_ingest", _ivfpq_stream_oracle())
def stream_ivfpq_ingest(spark, sf_dir):
    """Streaming ANN-index maintenance (`pipeline/pq.ivfpq_encode` +
    Structured Streaming): the IVF-PQ index is trained once on a snapshot
    (even vec_ids), written cid-partitioned (`ivfpq_write`), and the
    remaining vectors arrive as TWO parquet micro-batches
    (maxFilesPerTrigger=1) whose ``foreachBatch`` encodes against the
    FROZEN coarse centroids + residual codebooks — per-row work against
    broadcast state, no retraining, no shuffle — and appends straight
    into the partitioned store.  The entry returns the final stored index
    (one row per vector × subspace), so the oracle value-hashes the whole
    composition: snapshot training, streamed encoding, and the store
    layout that lets probes prune directories at serving time."""
    import os
    import uuid as _uuid

    from .pipeline.pq import ivfpq_build, ivfpq_encode, ivfpq_write

    e = engine_for(spark, sf_dir)
    emb = e.table("embeddings")
    snap = emb.filter("vec_id % 2 = 0")
    cents, books, enc0 = ivfpq_build(snap, n_coarse=8, m=8, k=16, iters=2)

    tag = _uuid.uuid4().hex[:8]
    idx = os.path.join(e.warehouse, f"ivfpq_idx_{tag}")
    src = os.path.join(e.warehouse, f"ivfpq_src_{tag}")
    ck = src + "_ck"
    ivfpq_write(enc0, idx)
    # two single-file arrivals -> two micro-batches under maxFilesPerTrigger=1
    emb.filter("vec_id % 4 = 1").coalesce(1).write.mode("append").parquet(src)
    emb.filter("vec_id % 4 = 3").coalesce(1).write.mode("append").parquet(src)

    sdf = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def ingest(batch, _bid):
        ivfpq_encode(batch, cents, books).write.mode("append").partitionBy(
            "cid"
        ).parquet(idx)

    q = (
        sdf.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stored = spark.read.parquet(idx)
    return stored.select(
        "vec_id",
        F.col("cid").cast("long").alias("cid"),
        F.posexplode("codes").alias("sub", "code"),
    ).select(
        "vec_id", "cid", F.col("sub").cast("long").alias("sub"), "code"
    )


@query("sim_pq_topk", _pq_oracle())
def sim_pq_topk(spark, sf_dir):
    """Product-quantization ANN (`pipeline/pq.py`) — the compression half
    of IVF-PQ, the standard billion-scale ANN layout: 8 subspaces × 16
    codes (4 bytes/vector replacing 64 floats), codebooks trained by two
    quantized-L2 Lloyd iterations (one encode pass + one m·k·dsub-cell
    combiner aggregate per iteration — the driver only ever holds 1024
    centroid cells), then ADC top-10 for the vec_id-0 query: approximate
    distance = 8 JVM array lookups + int adds per candidate, top-k via
    TakeOrderedAndProject.  Every distance is an exact int64, ties total
    — the oracle unrolls both training iterations, the final encoding,
    and the ADC table, and the whole trajectory value-hashes."""
    from .pipeline.pq import pq_encode, pq_search, pq_train

    e = engine_for(spark, sf_dir)
    emb = e.table("embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    books = pq_train(emb, m=8, k=16, iters=2)
    enc = pq_encode(emb, books)
    return pq_search(enc, books, qvec, topk=10)


# =====================================================================
# BPE vocabulary training (pipeline/bpe.py): the tokenizer-construction
# step of a training-data pipeline — an ITERATIVE distributed algorithm
# whose oracle unrolls every iteration in SQL (the SemDeDup/k-means
# trick applied to a sequential fold): pair counts are exact BIGINTs,
# the argmax tie-break is total (cnt DESC, l ASC, r ASC), and the greedy
# leftmost merge is the same left fold in Spark's JVM `aggregate` and
# DuckDB's `list_reduce`.
# =====================================================================


_BPE_W0 = """w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         array_to_string(str_split(word, ''), ' ') AS sym
  FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
    FROM documents
  ) WHERE word <> ''
  GROUP BY word
)"""


def _bpe_iter_cte(i: int, pfx: str = "") -> str:
    """One unrolled BPE iteration: pair counts over w{i-1}, the argmax
    merge rule b{i}, and the re-segmented word table w{i} (the same
    greedy-leftmost fold `pipeline/bpe.merge_fold` runs JVM-side).  The
    LEFT JOIN keeps words intact if no pair remains (training stopped).
    ``pfx`` renames the CTE family (``{pfx}w0`` → ``{pfx}p1`` …) so two
    independent BPE trainings — e.g. character- and byte-level in the
    fertility capstone — can unroll in ONE oracle without name capture."""
    prev = f"{pfx}w{i - 1}"
    return f"""{pfx}p{i} AS (
  SELECT s[j] AS l, s[j + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, str_split(sym, ' ') AS s FROM {prev}) t,
       LATERAL (SELECT unnest(generate_series(1, len(t.s) - 1)) AS j) jj
  GROUP BY 1, 2
), {pfx}b{i} AS (
  SELECT l, r, cnt FROM {pfx}p{i} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
), {pfx}w{i} AS (
  SELECT word, freq,
         CASE WHEN b.l IS NULL OR instr(sym, ' ') = 0 THEN sym ELSE
           list_reduce(str_split(sym, ' '), (acc, x) -> CASE
             WHEN x = b.r AND regexp_extract(acc, '[^ ]+$') = b.l THEN
               CASE WHEN regexp_replace(acc, ' ?[^ ]+$', '') = ''
                    THEN b.l || x
                    ELSE regexp_replace(acc, ' ?[^ ]+$', '')
                         || ' ' || b.l || x END
             ELSE acc || ' ' || x END) END AS sym
  FROM {prev} LEFT JOIN {pfx}b{i} b ON TRUE
)"""


_BPE_MERGES = 8


def _bpe_ctes(k: int = _BPE_MERGES) -> str:
    return ",\n".join([_BPE_W0] + [_bpe_iter_cte(i) for i in range(1, k + 1)])


def _bpe_train_oracle(k: int = _BPE_MERGES) -> str:
    rows = "\nUNION ALL\n".join(
        f'SELECT CAST({i} AS BIGINT) AS merge_rank, l AS "left", r AS "right",'
        f" l || r AS merged, cnt AS pair_count FROM b{i}"
        for i in range(1, k + 1)
    )
    return f"WITH {_bpe_ctes(k)}\n{rows}"


def _bpe_stats_oracle(k: int = _BPE_MERGES) -> str:
    return f"""WITH {_bpe_ctes(k)},
inst AS (
  SELECT lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
  FROM documents
), nsub AS (
  SELECT word, CAST(len(str_split(sym, ' ')) AS BIGINT) AS n_sub FROM w{k}
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       CAST(CAST(sum(n_sub) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS subwords_per_token
FROM inst JOIN nsub USING (word)
WHERE word <> ''
GROUP BY lang"""


_BPE_FOLD = """list_reduce(str_split({src}, ' '), (acc, x) -> CASE
             WHEN x = {c}.r AND regexp_extract(acc, '[^ ]+$') = {c}.l THEN
               CASE WHEN regexp_replace(acc, ' ?[^ ]+$', '') = ''
                    THEN {c}.l || x
                    ELSE regexp_replace(acc, ' ?[^ ]+$', '')
                         || ' ' || {c}.l || x END
             ELSE acc || ' ' || x END)"""


def _bpe_batched_iter_cte(i: int, n_merges: int, cap: int) -> str:
    """One unrolled BATCHED round (merges_per_round=2): ranked pair
    counts, the argmax rule a{i}, the next fully-disjoint candidate b{i}
    within the same top-`cap` ranked fetch `pipeline/bpe.bpe_train`
    collects (left, right, AND merged token untouched by a{i} —
    `select_disjoint`'s rule), both gated on the merge budget consumed
    by earlier rounds (a short round just re-counts next round, exactly
    like the Spark loop), then both folds applied in rank order.
    Every CTE is MATERIALIZED: the round chain references each
    predecessor several times (joins + scalar budget subqueries) and
    DuckDB's default inlining goes exponential across rounds (first
    symptom: parquet file-handle exhaustion)."""
    prev = f"bw{i - 1}"
    fold_a = _BPE_FOLD.format(src="sym", c="a")
    fold_b = _BPE_FOLD.format(src="s1", c="b")
    return f"""bp{i} AS MATERIALIZED (
  SELECT s[j] AS l, s[j + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, str_split(sym, ' ') AS s FROM {prev}) t,
       LATERAL (SELECT unnest(generate_series(1, len(t.s) - 1)) AS j) jj
  GROUP BY 1, 2
), br{i} AS MATERIALIZED (
  SELECT l, r, cnt,
         row_number() OVER (ORDER BY cnt DESC, l ASC, r ASC) AS rk
  FROM bp{i} QUALIFY rk <= {cap}
), ba{i} AS MATERIALIZED (
  SELECT l, r, cnt FROM br{i}
  WHERE rk = 1 AND (SELECT took FROM btot{i - 1}) < {n_merges}
), bb{i} AS MATERIALIZED (
  SELECT c.l, c.r, c.cnt FROM br{i} c, ba{i} a
  WHERE c.rk > 1
    AND (SELECT took FROM btot{i - 1}) + 1 < {n_merges} + 1
    AND (SELECT took FROM btot{i - 1}) + 2 <= {n_merges}
    AND c.l NOT IN (a.l, a.r, a.l || a.r)
    AND c.r NOT IN (a.l, a.r, a.l || a.r)
    AND (c.l || c.r) NOT IN (a.l, a.r, a.l || a.r)
  ORDER BY c.rk LIMIT 1
), btot{i} AS MATERIALIZED (
  SELECT (SELECT took FROM btot{i - 1})
         + (SELECT count(*) FROM ba{i})
         + (SELECT count(*) FROM bb{i}) AS took
), bw{i} AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN b.l IS NULL OR instr(s1, ' ') = 0 THEN s1
              ELSE {fold_b} END AS sym
  FROM (
    SELECT word, freq,
           CASE WHEN a.l IS NULL OR instr(sym, ' ') = 0 THEN sym
                ELSE {fold_a} END AS s1
    FROM {prev} LEFT JOIN ba{i} a ON TRUE
  ) LEFT JOIN bb{i} b ON TRUE
)"""


def _bpe_batched_oracle(n_merges: int = 6, cap: int = 32) -> str:
    """Full SQL replay of bpe_train(n_merges, merges_per_round=2): up to
    n_merges rounds unrolled (a round can accept 1 rule when the
    disjointness filter blocks its second pick, so the schedule is
    gated, not fixed); merge_rank is the running acceptance count."""
    w0 = _BPE_W0.replace("w0 AS", "bw0 AS MATERIALIZED")
    ctes = [w0, "btot0 AS MATERIALIZED (SELECT 0 AS took)"] + [
        _bpe_batched_iter_cte(i, n_merges, cap)
        for i in range(1, n_merges + 1)
    ]
    rows = "\nUNION ALL\n".join(
        f'SELECT (SELECT took FROM btot{i - 1}) + 1 AS merge_rank,'
        f' l AS "left", r AS "right", l || r AS merged, cnt AS pair_count'
        f" FROM ba{i}\nUNION ALL\n"
        f'SELECT (SELECT took FROM btot{i - 1}) + 2 AS merge_rank,'
        f' l AS "left", r AS "right", l || r AS merged, cnt AS pair_count'
        f" FROM bb{i}"
        for i in range(1, n_merges + 1)
    )
    return f"WITH {','.join(ctes)}\n{rows}"


def _bpe_batched_k_iter_cte(i: int, n_merges: int, k: int, cap: int) -> str:
    """One unrolled batched round for ARBITRARY merges_per_round=k
    (generalizes `_bpe_batched_iter_cte`'s hardwired a/b pick pair):
    ranked pair counts, then k greedy pick CTEs — pick j is the lowest-
    ranked candidate after pick j−1 whose left, right, AND merged token
    are untouched by EVERY earlier accepted pick (`select_disjoint`'s
    walk: skipped candidates stay skipped, so rank-monotonic chaining is
    exact), each gated on the merge budget consumed so far — then the
    word table with the accepted folds applied in rank order (sequential
    == simultaneous under full disjointness).  All CTEs MATERIALIZED,
    same DuckDB-inlining reason as the k=2 oracle."""
    prev = f"bkw{i - 1}"
    parts = [
        f"""bkp{i} AS MATERIALIZED (
  SELECT s[j] AS l, s[j + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, str_split(sym, ' ') AS s FROM {prev}) t,
       LATERAL (SELECT unnest(generate_series(1, len(t.s) - 1)) AS j) jj
  GROUP BY 1, 2
)""",
        f"""bkr{i} AS MATERIALIZED (
  SELECT l, r, cnt,
         row_number() OVER (ORDER BY cnt DESC, l ASC, r ASC) AS rk
  FROM bkp{i} QUALIFY rk <= {cap}
)""",
        f"""bk{i}p1 AS MATERIALIZED (
  SELECT l, r, cnt, rk FROM bkr{i}
  WHERE rk = 1 AND (SELECT took FROM bktot{i - 1}) < {n_merges}
)""",
    ]
    for j in range(2, k + 1):
        earlier = ", ".join(
            f"bk{i}p{e} e{e}" for e in range(1, j)
        )
        disjoint = " AND ".join(
            f"c.l NOT IN (e{e}.l, e{e}.r, e{e}.l || e{e}.r)"
            f" AND c.r NOT IN (e{e}.l, e{e}.r, e{e}.l || e{e}.r)"
            f" AND (c.l || c.r) NOT IN (e{e}.l, e{e}.r, e{e}.l || e{e}.r)"
            for e in range(1, j)
        )
        parts.append(
            f"""bk{i}p{j} AS MATERIALIZED (
  SELECT c.l, c.r, c.cnt, c.rk FROM bkr{i} c, {earlier}
  WHERE c.rk > e{j - 1}.rk
    AND (SELECT took FROM bktot{i - 1}) + {j} <= {n_merges}
    AND {disjoint}
  ORDER BY c.rk LIMIT 1
)""")
    took = " + ".join(
        [f"(SELECT took FROM bktot{i - 1})"]
        + [f"(SELECT count(*) FROM bk{i}p{j})" for j in range(1, k + 1)]
    )
    parts.append(f"bktot{i} AS MATERIALIZED (SELECT {took} AS took)")
    # folds applied innermost-first in rank order; each layer no-ops
    # when its pick is absent or the word is already a single symbol
    inner = prev
    src = "sym"
    layers = []
    for j in range(1, k + 1):
        fold = _BPE_FOLD.format(src=src, c=f"e{j}")
        out = "sym" if j == k else f"s{j}"
        layers.append((j, src, out, fold))
        src = f"s{j}"
    sql = f"SELECT word, freq, sym FROM {inner}"
    for j, src_c, out_c, fold in layers:
        sql = (
            f"SELECT word, freq,\n"
            f"       CASE WHEN e{j}.l IS NULL OR instr({src_c}, ' ') = 0"
            f" THEN {src_c} ELSE {fold} END AS {out_c}\n"
            f"FROM ({sql}) LEFT JOIN bk{i}p{j} e{j} ON TRUE"
        )
    parts.append(f"bkw{i} AS MATERIALIZED (\n  {sql}\n)")
    return ",\n".join(parts)


def _bpe_batched_k_oracle(n_merges: int, k: int) -> str:
    """Full SQL replay of bpe_train(n_merges, merges_per_round=k) for
    any k: up to n_merges rounds unrolled (every round can be shortened
    by conflicts OR the remaining budget; the gated btot chain makes the
    replay follow whichever schedule the data produces); merge_rank for
    round i's pick j is took_{i-1} + j (picks are contiguous: a missing
    pick j empties every later pick of the round via the cross join)."""
    cap = max(32, 8 * k)  # the Spark loop's candidate-fetch cap
    w0 = _BPE_W0.replace("w0 AS", "bkw0 AS MATERIALIZED")
    ctes = [w0, "bktot0 AS MATERIALIZED (SELECT 0 AS took)"] + [
        _bpe_batched_k_iter_cte(i, n_merges, k, cap)
        for i in range(1, n_merges + 1)
    ]
    rows = "\nUNION ALL\n".join(
        f'SELECT (SELECT took FROM bktot{i - 1}) + {j} AS merge_rank,'
        f' l AS "left", r AS "right", l || r AS merged, cnt AS pair_count'
        f" FROM bk{i}p{j}"
        for i in range(1, n_merges + 1)
        for j in range(1, k + 1)
    )
    return f"WITH {','.join(ctes)}\n{rows}"


@query("bpe_train_batched_deep", _bpe_batched_k_oracle(n_merges=30, k=10))
def bpe_train_batched_deep(spark, sf_dir):
    """Deep batched-BPE schedule (merges_per_round=10, 30 rules): ≥4
    gated rounds exercising every schedule edge the k=2 entry cannot —
    CONFLICT-shortened rounds (on this corpus round 1 wants 10 and the
    disjointness walk accepts 8 at every SF), late picks chained against
    up to 9 earlier accepted picks, and a budget-shortened final round
    (30 ≡ 2 mod 10).  The oracle (`_bpe_batched_k_oracle`) unrolls the
    worst-case 30 rounds with the same greedy walk and budget gates
    (rounds after exhaustion are empty by gating; per-round CTEs scan
    the vocabulary-bounded word table, not the corpus), so the whole
    trajectory value-hashes at every SF regardless of which schedule
    the corpus produces."""
    from .pipeline.bpe import bpe_train

    e = engine_for(spark, sf_dir)
    merges, words = bpe_train(
        e.table("documents"), n_merges=30, merges_per_round=10
    )
    return merges


@query("bpe_train_batched", _bpe_batched_oracle())
def bpe_train_batched(spark, sf_dir):
    """BATCHED BPE training (`pipeline/bpe.bpe_train` with
    merges_per_round=2 — the r6 scale path that replaces one shuffle per
    merge with one shuffle per ROUND of symbol-disjoint merges): 6 rules
    learned in ~3 rounds.  The oracle unrolls every round with the same
    gated schedule (rank-1 pick, then the lowest-ranked candidate whose
    left/right/merged token are all untouched by the first — a short
    round re-counts, exactly like the Spark loop) and applies both folds
    in rank order, so the batched trajectory value-hashes end to end."""
    from .pipeline.bpe import bpe_train

    e = engine_for(spark, sf_dir)
    merges, words = bpe_train(
        e.table("documents"), n_merges=6, merges_per_round=2
    )
    return merges


@query("bpe_train_merges", _bpe_train_oracle())
def bpe_train_merges(spark, sf_dir):
    """Distributed BPE vocabulary training (`pipeline/bpe.bpe_train`):
    8 merge rules learned over the documents corpus.  Each round is one
    map-side-combined pair-count shuffle + a ranked-window argmax collect
    + a JVM fold re-segmentation of the distinct-WORD table (the corpus
    itself never re-shuffles; freq weights carry corpus multiplicity);
    r12 batches each round's longest PROVABLY bit-identical rank-prefix
    of merges (`bpe.select_exact_prefix` — 8 rounds collapse to ~3 here
    with the identical rule trajectory).  The oracle unrolls all 8
    sequential iterations — counts are exact integers, tie-breaks total,
    and the greedy-leftmost merge is the identical left fold in DuckDB's
    `list_reduce` — so the full training trajectory value-hashes."""
    from .pipeline.bpe import bpe_train

    e = engine_for(spark, sf_dir)
    merges, words = bpe_train(e.table("documents"), n_merges=_BPE_MERGES)
    return merges


@query("bpe_subword_stats", _bpe_stats_oracle())
def bpe_subword_stats(spark, sf_dir):
    """Trained-tokenizer application (`pipeline/bpe.subword_stats`): the
    8-merge segmentation from `bpe_train_merges` applied back to the
    corpus — per-language token instances, subword instances, and the
    fertility ratio (one exact BIGINT/BIGINT division).  The corpus joins
    the word table on the token (broadcast/bucketed at scale) — exact
    integer sums, so the whole report value-hashes."""
    from .pipeline import local_frame
    from .pipeline.bpe import bpe_train, subword_stats

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    merges, words = bpe_train(docs, n_merges=_BPE_MERGES)
    out = subword_stats(docs, words, by="lang")
    rows = out.collect()
    return local_frame(spark, rows, out.schema)


def _bpe_encode_oracle(k: int = _BPE_MERGES, mod: int = 101) -> str:
    """Tokenizer-encode replay: vocabulary ids (base chars in binary
    order, merges at B+rank-1, collisions keep min id), then the sampled
    docs' words re-segmented by w{k} and flattened to per-document
    position-indexed token ids."""
    mr = "\nUNION ALL\n".join(
        f"SELECT l || r AS token, CAST({i} AS BIGINT) AS mrank FROM b{i}"
        for i in range(1, k + 1)
    )
    return f"""WITH {_bpe_ctes(k)},
chars AS (
  SELECT DISTINCT unnest(str_split(word, '')) AS token FROM w0
), cid AS (
  SELECT token,
         CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
  FROM chars
), nb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM cid),
mr AS ({mr}),
vocab AS (
  SELECT token, CAST(min(token_id) AS BIGINT) AS token_id FROM (
    SELECT token, token_id FROM cid
    UNION ALL
    SELECT mr.token, nb.b + mr.mrank - 1 AS token_id FROM mr CROSS JOIN nb
  ) GROUP BY token
), dw AS (
  SELECT doc_id, j.j AS wpos, t.w[j.j] AS word
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents WHERE doc_id % {mod} = 0) t
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(t.w))) AS j) j
  WHERE t.w[j.j] <> ''
), ds AS (
  SELECT u.doc_id, u.wpos, j2.j2 AS spos, u.s[j2.j2] AS token
  FROM (SELECT dw.doc_id, dw.wpos, str_split(w{k}.sym, ' ') AS s
        FROM dw JOIN w{k} USING (word)) u
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(u.s))) AS j2) j2
)
SELECT ds.doc_id,
       CAST(row_number() OVER (PARTITION BY ds.doc_id
                               ORDER BY ds.wpos, ds.spos) - 1
            AS BIGINT) AS pos,
       ds.token, vocab.token_id
FROM ds JOIN vocab USING (token)"""


def _bpe_encode_oov_oracle(
    k: int = _BPE_MERGES, train_mod: int = 3, enc_mod: int = 101
) -> str:
    """Encode-new-documents replay (`bpe_encode(oov="null")`): the
    tokenizer trains on the ``doc_id % train_mod = 0`` slice only, the
    encode sample spans the WHOLE corpus, and words absent from the
    training word table survive as one row each — raw word in ``token``,
    NULL ``token_id`` — via LEFT joins on both the segmentation and the
    vocab (an OOV word that happens to collide with an in-vocab token
    string still gets that token's id, on both engines).

    The driver corpus draws every document from one ~30-word pool, so
    ANY training slice covers the full vocabulary and no natural OOV
    exists; each encoded doc therefore carries one appended synthetic
    word ``xoov<doc_id>`` (both engines append it identically) that the
    tokenizer cannot have seen — guaranteeing the NULL-id path real
    rows at every SF while the rest of the encode stays the trained
    vocabulary."""
    w0 = _BPE_W0.replace(
        "FROM documents", f"FROM documents WHERE doc_id % {train_mod} = 0"
    )
    ctes = ",\n".join([w0] + [_bpe_iter_cte(i) for i in range(1, k + 1)])
    mr = "\nUNION ALL\n".join(
        f"SELECT l || r AS token, CAST({i} AS BIGINT) AS mrank FROM b{i}"
        for i in range(1, k + 1)
    )
    return f"""WITH {ctes},
chars AS (
  SELECT DISTINCT unnest(str_split(word, '')) AS token FROM w0
), cid AS (
  SELECT token,
         CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
  FROM chars
), nb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM cid),
mr AS ({mr}),
vocab AS (
  SELECT token, CAST(min(token_id) AS BIGINT) AS token_id FROM (
    SELECT token, token_id FROM cid
    UNION ALL
    SELECT mr.token, nb.b + mr.mrank - 1 AS token_id FROM mr CROSS JOIN nb
  ) GROUP BY token
), dw AS (
  SELECT doc_id, j.j AS wpos, t.w[j.j] AS word
  FROM (SELECT doc_id,
               regexp_split_to_array(
                 trim(text || ' xoov' || CAST(doc_id AS VARCHAR)),
                 '\\s+') AS w
        FROM documents WHERE doc_id % {enc_mod} = 0) t
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(t.w))) AS j) j
  WHERE t.w[j.j] <> ''
), ds AS (
  SELECT u.doc_id, u.wpos, j2.j2 AS spos, u.s[j2.j2] AS token
  FROM (SELECT dw.doc_id, dw.wpos,
               str_split(COALESCE(wk.sym, dw.word), ' ') AS s
        FROM dw LEFT JOIN w{k} wk USING (word)) u
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(u.s))) AS j2) j2
)
SELECT ds.doc_id,
       CAST(row_number() OVER (PARTITION BY ds.doc_id
                               ORDER BY ds.wpos, ds.spos) - 1
            AS BIGINT) AS pos,
       ds.token, vocab.token_id
FROM ds LEFT JOIN vocab USING (token)"""


@query("bpe_encode_oov", _bpe_encode_oov_oracle())
def bpe_encode_oov(spark, sf_dir):
    """Tokenizer encode on UNSEEN text (`pipeline/bpe.bpe_encode` with
    ``oov="null"``): train on the doc_id % 3 = 0 third of the corpus,
    encode a corpus-wide sample with one synthetic unseen word
    (``xoov<doc_id>``) appended per doc — see the oracle's docstring for
    why the append is needed on this corpus.  Unseen words come back as
    one row each with a NULL token_id instead of silently vanishing
    (the r5 ADVICE surfacing contract, now with driver evidence)."""
    from .pipeline.bpe import bpe_encode, bpe_train, bpe_vocab

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    merges, words = bpe_train(
        docs.filter("doc_id % 3 = 0"), n_merges=_BPE_MERGES
    )
    enc = docs.filter("doc_id % 101 = 0").withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" xoov"), F.col("doc_id").cast("string")),
    )
    return bpe_encode(enc, words, bpe_vocab(merges, words), oov="null")


@query("bpe_encode_ids", _bpe_encode_oracle())
def bpe_encode_ids(spark, sf_dir):
    """Corpus tokenization with the trained tokenizer
    (`pipeline/bpe.bpe_vocab` + `bpe_encode`) — the step a training run
    actually consumes: base characters get ids in binary order, the 8
    learned merges get B+rank-1, and a 1-in-101 document sample (output
    bound; the plan is corpus-wide) is flattened to position-indexed
    token-id sequences.  The word-table and vocab joins broadcast at
    scale; the only shuffle partitions by document.  Training, vocab
    construction, segmentation, and position densification all replay in
    the oracle, so the entire tokenizer — rules AND application —
    value-hashes."""
    from .pipeline import local_frame
    from .pipeline.bpe import bpe_encode, bpe_train, bpe_vocab

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    merges, words = bpe_train(docs, n_merges=_BPE_MERGES)
    out = bpe_encode(docs.filter("doc_id % 101 = 0"), words, bpe_vocab(merges, words))
    rows = out.collect()
    return local_frame(spark, rows, out.schema)


# =====================================================================
# Byte-level BPE with regex pre-tokenization (pipeline/byte_bpe.py):
# the GPT-2 tokenizer (Radford et al. 2019) — text splits into
# pre-tokens by the lookahead-free GPT-2 regex (identical in Java regex
# and RE2 — the RE2 constraint is what the oracle needs), pre-tokens
# map to UTF-8 bytes as printable stand-in characters, and the SAME
# shared BPE loop (`bpe.train_from_words`) learns merges over the
# 256-symbol byte alphabet.  The corpus is pure lowercase ASCII, so
# 1/13 of documents get a deterministic adversarial mutation (the
# curation-funnel precedent) carrying contractions, digits, punctuation,
# multi-byte UTF-8 (é — …), a double space, a newline, and a tab — every
# pre-tokenizer branch and the multi-byte byte mapping are non-vacuous
# at every SF.
# =====================================================================

# ONE pattern constant — imported from the operator module so the oracle
# replica can never drift from the Spark-side tokenizer (review r9)
from .pipeline.byte_bpe import GPT2_SPLIT_PATTERN as _BB_PAT  # noqa: E402

_BB_PAT_SQL = _BB_PAT.replace("'", "''")
_BB_MUT = " it's  42 — héllo… \ntab\tend"
_BB_MUT_SQL = "' it''s  42 — héllo… ' || chr(10) || 'tab' || chr(9) || 'end'"
_BB_MERGES = 8


def _bb_mutate(docs):
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat("text", F.lit(_BB_MUT))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _bb_prefix(
    pfx: str = "", mutate: bool = True, train_where: str = ""
) -> str:
    """Shared oracle CTEs: the GPT-2 byte → stand-in-char table
    (`byte_bpe.bytes_to_unicode` — printable latin-1 bytes map to
    themselves, the 68 others to chr(256+k) in ascending byte order),
    the (optionally mutated) corpus, and the byte-level {pfx}w0 word
    table (distinct pre-tokens, corpus freq, space-joined stand-in
    chars) that the `_bpe_iter_cte(pfx=…)` chain then trains over."""
    src = "bbm" if mutate else "documents"
    tw = f" WHERE {train_where}" if train_where else ""
    mut_cte = (
        f""", bbm AS (
  SELECT doc_id, CASE WHEN doc_id % 13 = 0
    THEN text || {_BB_MUT_SQL} ELSE text END AS text
  FROM documents
)"""
        if mutate
        else ""
    )
    return f"""bbmap AS (
  SELECT b, printf('%02X', b) AS hx, c FROM (
    SELECT b, chr(CAST(b AS INT)) AS c FROM range(256) t(b)
    WHERE (b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172)
       OR (b BETWEEN 174 AND 255)
    UNION ALL
    SELECT b, chr(256 + CAST(row_number() OVER (ORDER BY b) AS INT) - 1)
           AS c
    FROM range(256) t(b)
    WHERE NOT ((b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172)
               OR (b BETWEEN 174 AND 255))
  ) u
){mut_cte}, {pfx}w0 AS (
  SELECT word, freq, array_to_string(list(c ORDER BY j), ' ') AS sym
  FROM (
    SELECT wf.word, wf.freq, g.j, bm.c
    FROM (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(regexp_extract_all(text, '{_BB_PAT_SQL}'))
            AS word FROM {src}{tw})
      GROUP BY word
    ) wf,
    LATERAL (SELECT unnest(generate_series(1,
             octet_length(encode(wf.word)))) AS j) g,
    bbmap bm
    WHERE bm.hx = substr(hex(encode(wf.word)), 2*g.j - 1, 2)
  ) GROUP BY word, freq
)"""


def _byte_bpe_ctes(
    k: int = _BB_MERGES,
    pfx: str = "",
    mutate: bool = True,
    train_where: str = "",
) -> str:
    return ",\n".join(
        [_bb_prefix(pfx, mutate, train_where)]
        + [_bpe_iter_cte(i, pfx) for i in range(1, k + 1)]
    )


def _byte_bpe_train_oracle(k: int = _BB_MERGES) -> str:
    rows = "\nUNION ALL\n".join(
        f'SELECT CAST({i} AS BIGINT) AS merge_rank, l AS "left",'
        f' r AS "right", l || r AS merged, cnt AS pair_count FROM b{i}'
        for i in range(1, k + 1)
    )
    return f"WITH {_byte_bpe_ctes(k)}\n{rows}"


def _byte_bpe_encode_oracle(
    k: int = _BB_MERGES, mod: int = 11, train_where: str = ""
) -> str:
    """Byte-level encode replay: vocabulary ids (256 byte stand-ins at
    their BYTE value, merges at 256+rank-1, collisions keep min id),
    sampled mutated docs' pre-tokens re-segmented by w{k}, flattened to
    per-document position-indexed ids.  With ``train_where`` the
    tokenizer trains on a SLICE and sampled pre-tokens absent from w{k}
    fall back to their raw byte segmentation (the encoder's totality
    contract) — replayed via the sw CTE (same bbmap construction over
    the sample's distinct pre-tokens)."""
    mr = "\nUNION ALL\n".join(
        f"SELECT l || r AS token, CAST(256 + {i} - 1 AS BIGINT) AS token_id"
        f" FROM b{i}"
        for i in range(1, k + 1)
    )
    return f"""WITH {_byte_bpe_ctes(k, train_where=train_where)},
vocab AS (
  SELECT token, CAST(min(token_id) AS BIGINT) AS token_id FROM (
    SELECT c AS token, CAST(b AS BIGINT) AS token_id FROM bbmap
    UNION ALL
    {mr}
  ) GROUP BY token
), dw AS (
  SELECT doc_id, j.j AS wpos, t.w[j.j] AS word
  FROM (SELECT doc_id, regexp_extract_all(text, '{_BB_PAT_SQL}') AS w
        FROM bbm WHERE doc_id % {mod} = 0) t
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(t.w))) AS j) j
), sw AS (
  SELECT word, array_to_string(list(c ORDER BY j), ' ') AS sym
  FROM (
    SELECT sd.word, g.j, bm.c
    FROM (SELECT DISTINCT word FROM dw) sd,
    LATERAL (SELECT unnest(generate_series(1,
             octet_length(encode(sd.word)))) AS j) g,
    bbmap bm
    WHERE bm.hx = substr(hex(encode(sd.word)), 2*g.j - 1, 2)
  ) GROUP BY word
), ds AS (
  SELECT u.doc_id, u.wpos, j2.j2 AS spos, u.s[j2.j2] AS token
  FROM (SELECT dw.doc_id, dw.wpos,
               str_split(coalesce(w{k}.sym, sw.sym), ' ') AS s
        FROM dw LEFT JOIN w{k} USING (word) JOIN sw USING (word)) u
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(u.s))) AS j2) j2
)
SELECT ds.doc_id,
       CAST(row_number() OVER (PARTITION BY ds.doc_id
                               ORDER BY ds.wpos, ds.spos) - 1
            AS BIGINT) AS pos,
       ds.token, vocab.token_id
FROM ds JOIN vocab USING (token)"""


@query("byte_bpe_train_merges", _byte_bpe_train_oracle())
def byte_bpe_train_merges(spark, sf_dir):
    """Byte-level BPE training (`pipeline/byte_bpe.byte_bpe_train`;
    Radford et al. 2019): 8 merge rules learned over the byte-alphabet
    pre-token table of the (adversarially mutated) corpus.  Same
    distributed shape as `bpe_train_merges` — the byte mapping and every
    merge round touch only the DISTINCT pre-token table; the corpus is
    scanned once — and the oracle reuses the identical unrolled
    iteration CTEs over a byte-level w0, so the full training trajectory
    value-hashes."""
    from .pipeline.byte_bpe import byte_bpe_train

    e = engine_for(spark, sf_dir)
    merges, words = byte_bpe_train(
        _bb_mutate(e.table("documents")), n_merges=_BB_MERGES
    )
    return merges


@query("byte_bpe_encode_ids", _byte_bpe_encode_oracle())
def byte_bpe_encode_ids(spark, sf_dir):
    """Byte-level corpus tokenization (`pipeline/byte_bpe.byte_bpe_vocab`
    + `byte_bpe_encode`): byte stand-ins take ids 0..255 at their byte
    value (the GPT-2 base-alphabet convention — no corpus scan), merges
    take 256+rank-1, and a 1-in-11 document sample is flattened to
    position-indexed token-id sequences.  Encode is TOTAL — unseen
    pre-tokens fall back to their byte segmentation, so there is no OOV
    mode.  Word-table and vocab joins broadcast; the only shuffle
    partitions by document."""
    from .pipeline import local_frame
    from .pipeline.byte_bpe import (
        byte_bpe_encode,
        byte_bpe_train,
        byte_bpe_vocab,
    )

    e = engine_for(spark, sf_dir)
    docs = _bb_mutate(e.table("documents"))
    merges, words = byte_bpe_train(docs, n_merges=_BB_MERGES)
    out = byte_bpe_encode(
        docs.filter("doc_id % 11 = 0"), words, byte_bpe_vocab(merges)
    )
    rows = out.collect()
    return local_frame(spark, rows, out.schema)


@query(
    "byte_bpe_roundtrip",
    f"""SELECT doc_id,
       CASE WHEN doc_id % 13 = 0
            THEN text || {_BB_MUT_SQL} ELSE text END AS text
FROM documents WHERE doc_id % 7 = 0 AND length(text) > 0""",
)
def byte_bpe_roundtrip(spark, sf_dir):
    """EXACT byte-level round trip (`byte_bpe_decode(byte_bpe_encode(x))
    == x`, byte for byte — not whitespace-normalized: the GPT-2
    pre-tokenizer branches cover every character class, so pre-token
    concatenation IS the input).  The entry trains the 8-merge
    tokenizer, encodes a 1-in-7 mutated-doc sample, decodes it back
    (stand-in chars → hex → `unhex` → UTF-8), and returns (doc_id,
    text); the oracle is the INDEPENDENT expectation — the mutated input
    itself — so the value hash proves losslessness through the whole
    train→vocab→encode→decode stack, including the newline/tab/
    multi-byte mutation path.  The encoder's fuzzed round-trip property
    lives in tests/test_byte_bpe.py; this is its driver-gated twin."""
    from .pipeline import local_frame
    from .pipeline.byte_bpe import (
        byte_bpe_decode,
        byte_bpe_encode,
        byte_bpe_train,
        byte_bpe_vocab,
    )

    e = engine_for(spark, sf_dir)
    raw = e.table("documents")
    # train on the FULL mutated corpus (the oracle's w0 reads bbm with no
    # length filter — a mutated originally-empty doc contributes
    # pre-tokens there too); the SAMPLE filters on the ORIGINAL text,
    # matching the oracle's WHERE length(text) > 0 over pre-mutation
    # rows — filtering the mutated text instead would keep an empty doc
    # whose doc_id % 13 = 0 that the oracle excludes (review r9)
    merges, words = byte_bpe_train(_bb_mutate(raw), n_merges=_BB_MERGES)
    sample = _bb_mutate(raw.filter("length(text) > 0")).filter(
        "doc_id % 7 = 0"
    )
    enc = byte_bpe_encode(sample, words, byte_bpe_vocab(merges))
    out = byte_bpe_decode(enc)
    rows = out.collect()
    return local_frame(spark, rows, out.schema)


@query(
    "stream_byte_bpe_ingest",
    _byte_bpe_encode_oracle(train_where="doc_id % 2 = 0"),
)
def stream_byte_bpe_ingest(spark, sf_dir):
    """Byte-level BPE tokenization at STREAMING ingest — the GPT-2
    tokenizer in the tokenize-on-arrival shape next to
    `stream_wordpiece_ingest`: the byte tokenizer is trained ONCE on
    the even-doc snapshot and FROZEN (segmented pre-token table + id
    table localCheckpoint'ed), the snapshot is encoded batch-side, and
    the odd half arrives as two single-file parquet micro-batches
    encoded inside ``foreachBatch``.  Byte-level encode is TOTAL —
    arriving pre-tokens the snapshot never saw fall back to their raw
    byte segmentation instead of needing an OOV protocol — and
    segmentation depends only on the frozen state, so streamed +
    snapshot output reproduces the pure-batch answer EXACTLY (output
    bounded to the 1-in-11 sample; the oracle replays snapshot-slice
    training, the byte fallback for unseen sampled pre-tokens, and
    position densification)."""
    import os
    import shutil
    import uuid as _uuid

    from .pipeline.byte_bpe import (
        byte_bpe_encode,
        byte_bpe_train,
        byte_bpe_vocab,
    )

    e = engine_for(spark, sf_dir)
    docs = _bb_mutate(e.table("documents"))
    snap = docs.filter("doc_id % 2 = 0")

    merges, words = byte_bpe_train(snap, n_merges=_BB_MERGES)
    words = words.localCheckpoint(eager=True)  # frozen segmentation
    vocab = byte_bpe_vocab(merges).localCheckpoint(eager=True)  # frozen ids

    def encode_batch(batch):
        return byte_bpe_encode(batch.filter("doc_id % 11 = 0"), words, vocab)

    tag = _uuid.uuid4().hex[:8]
    store = os.path.join(e.warehouse, f"bbing_{tag}")
    src = os.path.join(e.warehouse, f"bbing_src_{tag}")
    ck = src + "_ck"

    encode_batch(snap).write.mode("append").parquet(store)
    docs.filter("doc_id % 4 = 1").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id % 4 = 3").coalesce(1).write.mode("append").parquet(src)

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def sink_batch(batch, _bid):
        encode_batch(batch).write.mode("append").parquet(store)

    q = (
        sdf.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        q.stop()
        out = spark.read.parquet(store)
        rows = out.collect()
        schema = out.schema
    finally:
        q.stop()
        # output fully collected; drop the throwaway store/source/
        # checkpoint dirs (the stream_quality_gate cleanup pattern)
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# =====================================================================
# Unigram-LM (SentencePiece-style) tokenizer training
# (pipeline/unigram.py): the second classic subword algorithm next to
# BPE — hard-EM (Viterbi) over candidate-piece likelihoods on the
# distinct-word table.  The oracle unrolls every EM iteration in SQL:
# the encoded integer DP (cost·64 + (64 − len), min-plus with a total
# longest-piece tie-break) is the same fold in Spark's JVM `aggregate`
# and DuckDB's `list_reduce`, costs are micronat-quantized by the
# repo-wide contract, and counts are exact BIGINTs.
# =====================================================================

_UNI_INF = 10**12  # absent-piece sentinel cost
_UNI_BIG = 4 * 10**15  # guarded-term sentinel (> any encoded DP value)


def _unigram_cost_cte(name: str, src: str) -> str:
    """Re-cost a (piece, cnt) table: cost = −⌊ln(cnt/Σcnt)·1e6⌋."""
    return f"""{name} AS MATERIALIZED (
  SELECT piece, cnt,
         CAST(-floor(ln(CAST(cnt AS DOUBLE)
              / CAST((SELECT CAST(sum(cnt) AS BIGINT) FROM {src}) AS DOUBLE))
              * 1000000) AS BIGINT) AS cost
  FROM {src}
)"""


def _unigram_seed_ctes(
    max_len: int, seed_multi: int, min_count: int, max_word_len: int
) -> str:
    return f"""uw0 AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
        FROM documents)
  WHERE word <> '' AND length(word) <= {max_word_len}
  GROUP BY word
), usub0 AS (
  SELECT substr(w.word, jj.j - ll.l + 1, ll.l) AS piece,
         CAST(sum(w.freq) AS BIGINT) AS cnt
  FROM (SELECT word, freq, length(word) AS n FROM uw0) w,
       LATERAL (SELECT unnest(generate_series(1, w.n)) AS j) jj,
       LATERAL (SELECT unnest(generate_series(1, {max_len})) AS l) ll
  WHERE jj.j >= ll.l
  GROUP BY 1
), up0 AS (
  SELECT piece, cnt FROM usub0 WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM usub0
    WHERE length(piece) > 1 AND cnt >= {min_count}
    ORDER BY cnt DESC, piece ASC LIMIT {seed_multi})
), {_unigram_cost_cte("upc0", "up0")}"""


def _unigram_iter_cte(i: int, max_len: int, max_word_len: int) -> str:
    """One unrolled hard-EM iteration: dense per-word cost lists under
    upc{i-1}, the encoded Viterbi DP, the boundary walk-back, piece
    recounting with char add-one smoothing, and the re-costed pruned
    vocabulary upc{i}.

    The DP and the walk are POSITION-unrolled as chained lateral column
    aliases (d1..dW, p1..pW with W = max_word_len) using only literal
    list indices — deliberately NOT a ``list_reduce`` fold: DuckDB
    1.0's list_reduce mis-evaluates list-typed accumulators
    nondeterministically (measured on this exact DP: the same query
    returned differently-segmented words across runs, including
    segmentations that don't cover the word), while plain expressions,
    list() aggregates, and single-level list_transform lambdas — the
    constructs every stable oracle in this file already leans on — are
    deterministic.  Steps past a word's length are no-op gated on n, so
    one W-step chain replays every word exactly."""
    prev = f"upc{i - 1}"
    w = max_word_len
    # DP steps as NESTED subqueries (one projection level per position,
    # each d{j} computed once) — chained lateral aliases would be
    # substituted textually and blow up 5^W in expression size
    dp_inner = (
        f"(SELECT word, freq, n, costs,"
        f" [CAST(0 AS BIGINT)] AS d0 FROM ucl{i})"
    )
    for j in range(1, w + 1):
        terms = ", ".join(
            f"CASE WHEN {j} >= {l} THEN"
            f" (CAST(floor(d{j - 1}[{j - l + 1}] / 64) AS BIGINT)"
            f" + costs[{(j - 1) * max_len + l}]) * 64 + {64 - l}"
            f" ELSE {_UNI_BIG} END"
            for l in range(1, max_len + 1)
        )
        dp_inner = (
            f"(SELECT *, CASE WHEN {j} <= n THEN list_append(d{j - 1},"
            f" least({terms})) ELSE d{j - 1} END AS d{j}\n  FROM {dp_inner})"
        )
    walk_inner = (
        f"(SELECT word, freq, n, d{w} AS dp,"
        f" CAST(n AS BIGINT) AS p0 FROM {dp_inner})"
    )
    for k in range(1, w + 1):
        walk_inner = (
            f"(SELECT *, CASE WHEN p{k - 1} > 0 THEN p{k - 1}"
            f" - (64 - (dp[CAST(p{k - 1} + 1 AS INT)] % 64))"
            f" ELSE CAST(0 AS BIGINT) END AS p{k}\n  FROM {walk_inner})"
        )
    plist = ", ".join(f"p{k}" for k in range(0, w + 1))
    return f"""ug{i} AS (
  SELECT w.word, w.freq, w.n, jj.j, ll.l,
         CASE WHEN jj.j >= ll.l
              THEN substr(w.word, jj.j - ll.l + 1, ll.l) END AS piece
  FROM (SELECT word, freq, length(word) AS n FROM uw0) w,
       LATERAL (SELECT unnest(generate_series(1, w.n)) AS j) jj,
       LATERAL (SELECT unnest(generate_series(1, {max_len})) AS l) ll
), ucl{i} AS (
  SELECT g.word, g.freq, g.n,
         list(coalesce(c.cost, CAST({_UNI_INF} AS BIGINT))
              ORDER BY g.j, g.l) AS costs
  FROM ug{i} g LEFT JOIN {prev} c ON g.piece = c.piece
  GROUP BY g.word, g.freq, g.n
), useg{i} AS MATERIALIZED (
  SELECT word, freq,
    array_to_string(list_transform(generate_series(1, len(bnd) - 1),
      bi -> substr(word, CAST(bnd[bi] + 1 AS INT),
                   CAST(bnd[bi + 1] - bnd[bi] AS INT))), ' ') AS sym
  FROM (
    SELECT word, freq, list_sort(list_distinct([{plist}])) AS bnd
    FROM {walk_inner})
), ucnt{i} AS (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS vcnt
  FROM (SELECT freq, unnest(str_split(sym, ' ')) AS piece FROM useg{i})
  GROUP BY piece
), up{i} AS (
  SELECT c.piece,
         CAST(CASE WHEN length(c.piece) = 1 THEN coalesce(v.vcnt, 0) + 1
              ELSE v.vcnt END AS BIGINT) AS cnt
  FROM {prev} c LEFT JOIN ucnt{i} v ON c.piece = v.piece
  WHERE length(c.piece) = 1 OR v.vcnt IS NOT NULL
), {_unigram_cost_cte(f"upc{i}", f"up{i}")}"""


def _unigram_ctes(
    iters: int = 2,
    max_len: int = 4,
    seed_multi: int = 200,
    min_count: int = 2,
    max_word_len: int = 24,
) -> str:
    ctes = [_unigram_seed_ctes(max_len, seed_multi, min_count, max_word_len)] + [
        _unigram_iter_cte(i, max_len, max_word_len) for i in range(1, iters + 1)
    ]
    return ",\n".join(ctes)


def _unigram_oracle(iters: int = 2, **kw) -> str:
    return (
        "WITH " + _unigram_ctes(iters, **kw)
        + f"\nSELECT piece, cnt, cost AS cost_micronats FROM upc{iters}"
    )


def _unigram_encode_oracle(iters: int = 2, mod: int = 101, **kw) -> str:
    """Corpus-encode replay with the trained unigram vocabulary: final
    pieces get ids in lexicographic order, the sampled docs' words join
    their final-E-step segmentations (useg{iters} — every piece a
    segmentation uses survives the last prune, since its Viterbi count
    is ≥ 1), and subwords flatten to per-document position-indexed
    token ids (same densification as the BPE encode oracle)."""
    return f"""WITH {_unigram_ctes(iters, **kw)},
uvocab AS (
  SELECT piece AS token,
         CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS token_id
  FROM upc{iters}
), udw AS (
  SELECT doc_id, j.j AS wpos, t.w[j.j] AS word
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents WHERE doc_id % {mod} = 0) t
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(t.w))) AS j) j
  WHERE t.w[j.j] <> ''
), uds AS (
  SELECT u.doc_id, u.wpos, j2.j2 AS spos, u.s[j2.j2] AS token
  FROM (SELECT udw.doc_id, udw.wpos, str_split(useg{iters}.sym, ' ') AS s
        FROM udw JOIN useg{iters} USING (word)) u
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(u.s))) AS j2) j2
)
SELECT uds.doc_id,
       CAST(row_number() OVER (PARTITION BY uds.doc_id
                               ORDER BY uds.wpos, uds.spos) - 1
            AS BIGINT) AS pos,
       uds.token, uvocab.token_id
FROM uds JOIN uvocab USING (token)"""


@query("unigram_lm_train", _unigram_oracle(iters=2))
def unigram_lm_train(spark, sf_dir):
    """Unigram-LM (SentencePiece-style) subword vocabulary training
    (Kudo 2018; `pipeline/unigram.unigram_train`): seed = all single
    chars + the top-200 weighted substrings of length ≤ 4, then TWO
    hard-EM rounds — Viterbi-segment every distinct word under integer-
    micronat piece costs, recount, add-one-smooth the chars, prune
    multi-char pieces the segmentations dropped, re-cost.  The word
    table (never the corpus) does the work; the vocab rides as a
    broadcast; the DP/walk/rebuild folds are whole-stage codegen.  The
    oracle unrolls seed + both EM rounds with the same encoded min-plus
    DP (`_unigram_oracle`), so the whole training trajectory
    value-hashes at every SF."""
    from .pipeline.unigram import unigram_train

    e = engine_for(spark, sf_dir)
    pieces, _words = unigram_train(
        e.table("documents"), iters=2, max_len=4, seed_multi=200
    )
    return pieces.select(
        "piece", "cnt", F.col("cost").alias("cost_micronats")
    )


@query("unigram_encode_ids", _unigram_encode_oracle(iters=2))
def unigram_encode_ids(spark, sf_dir):
    """Corpus tokenization with the TRAINED unigram-LM tokenizer — the
    consume step that completes the family next to `bpe_encode_ids`:
    final pieces get lexicographic ids, a 1-in-101 document sample
    (output bound; the plan is corpus-wide) joins its words' final
    Viterbi segmentations and flattens to position-indexed token-id
    sequences via `pipeline/bpe.bpe_encode` — the encode machinery is
    tokenizer-agnostic, taking any (word, sym) segmentation table, so
    the unigram path reuses it verbatim (broadcast word/vocab joins, one
    per-document regroup — `bpe.densify_encode`, no Window node since
    the r9 reshape).  Training, vocabulary ids, segmentation, and
    position densification all replay in the oracle."""
    from pyspark.sql import Window

    from .pipeline.bpe import bpe_encode
    from .pipeline.unigram import unigram_train

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    pieces, words = unigram_train(docs, iters=2, max_len=4, seed_multi=200)
    vocab = pieces.select(
        F.col("piece").alias("token"),
        (F.row_number().over(Window.orderBy("piece")) - 1)
        .cast("long")
        .alias("token_id"),
    )
    out = bpe_encode(docs.filter("doc_id % 101 = 0"), words, vocab)
    rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


# =====================================================================
# WordPiece training + MaxMatch inference (pipeline/wordpiece.py): the
# third classic subword algorithm (Schuster & Nakajima 2012; BERT's
# ``##`` vocabulary + greedy longest-match encoder).  Same unrolled-
# iteration oracle discipline as BPE — the argmax differs (likelihood
# gain cnt/(lcnt·rcnt), one exactly-rounded IEEE expression over exact
# BIGINTs) and the encoder is a REAL forward MaxMatch fold, replayed by
# DuckDB ``list_reduce`` with a string accumulator.
# =====================================================================

_WP_MERGES = 8


def _wp_w0(where: str = "") -> str:
    """Initial ``##``-marked word table (``hello`` → ``h ##e ##l ##l
    ##o``) — the same marking `pipeline/wordpiece.wordpiece_word_table`
    builds with an indexed transform."""
    return f"""wp0 AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         CASE WHEN length(word) = 1 THEN word
              ELSE substr(word, 1, 1) || ' ##'
                   || array_to_string(str_split(substr(word, 2), ''), ' ##')
         END AS sym
  FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
    FROM documents {where}
  ) WHERE word <> ''
  GROUP BY word
)"""


def _wp_iter_cte(i: int) -> str:
    """One unrolled WordPiece iteration: symbol counts wsc{i}, adjacent-
    pair counts wpp{i}, the likelihood-gain argmax wb{i} (score DESC,
    l ASC, r ASC — doubles are bit-identical across engines because both
    divide/multiply the same exact BIGINTs), and the re-segmented word
    table wp{i} via the greedy-leftmost fold with the right's ``##``
    marker consumed (``b.l || substr(x, 3)`` — exactly
    `pipeline/wordpiece.merge_fold_rule`'s merged literal).  Every CTE
    MATERIALIZED: each round references its predecessor three times and
    DuckDB's default inlining goes exponential across rounds (the
    batched-BPE lesson)."""
    prev = f"wp{i - 1}"
    return f"""wsc{i} AS MATERIALIZED (
  SELECT tok, CAST(sum(freq) AS BIGINT) AS scnt
  FROM (SELECT freq, unnest(str_split(sym, ' ')) AS tok FROM {prev})
  GROUP BY tok
), wpp{i} AS MATERIALIZED (
  SELECT s[j] AS l, s[j + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, str_split(sym, ' ') AS s FROM {prev}) t,
       LATERAL (SELECT unnest(generate_series(1, len(t.s) - 1)) AS j) jj
  GROUP BY 1, 2
), wb{i} AS MATERIALIZED (
  SELECT p.l, p.r, p.cnt, sl.scnt AS lcnt, sr.scnt AS rcnt,
         CAST(p.cnt AS DOUBLE)
           / (CAST(sl.scnt AS DOUBLE) * CAST(sr.scnt AS DOUBLE)) AS score
  FROM wpp{i} p JOIN wsc{i} sl ON p.l = sl.tok
       JOIN wsc{i} sr ON p.r = sr.tok
  ORDER BY score DESC, p.l ASC, p.r ASC LIMIT 1
), wp{i} AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN b.l IS NULL OR instr(sym, ' ') = 0 THEN sym ELSE
           list_reduce(str_split(sym, ' '), (acc, x) -> CASE
             WHEN x = b.r AND regexp_extract(acc, '[^ ]+$') = b.l THEN
               CASE WHEN regexp_replace(acc, ' ?[^ ]+$', '') = ''
                    THEN b.l || substr(x, 3)
                    ELSE regexp_replace(acc, ' ?[^ ]+$', '')
                         || ' ' || b.l || substr(x, 3) END
             ELSE acc || ' ' || x END) END AS sym
  FROM {prev} LEFT JOIN wb{i} b ON TRUE
)"""


def _wp_ctes(k: int = _WP_MERGES, where: str = "") -> str:
    return ",\n".join([_wp_w0(where)] + [_wp_iter_cte(i) for i in range(1, k + 1)])


def _wp_train_oracle(k: int = _WP_MERGES) -> str:
    rows = "\nUNION ALL\n".join(
        f'SELECT CAST({i} AS BIGINT) AS merge_rank, l AS "left", r AS "right",'
        f" l || substr(r, 3) AS merged, cnt AS pair_count,"
        f" lcnt AS left_count, rcnt AS right_count, score FROM wb{i}"
        for i in range(1, k + 1)
    )
    return f"WITH {_wp_ctes(k)}\n{rows}"


def _wp_maxmatch_ctes(k: int = _WP_MERGES, max_piece_len: int = 10) -> str:
    """Shared oracle chain for MaxMatch encoding (train on the even-doc
    half, segment the FULL corpus's distinct words): vocabulary =
    initial symbols ∪ merged pieces; per-position best-match lengths
    from a substring grid joined to the vocabulary; the greedy walk is a
    RECURSIVE CTE — seed position 1, step ``pos → pos + bl[pos]``
    accumulating pieces, terminal row = consumed word (``pos > n``) or
    whole-word ``[UNK]`` (``bl[pos] = 0``), surfaced as ``wseg``.  A
    ``list_reduce`` fold (the Spark formulation) is NOT usable here:
    DuckDB 1.0 evaluates lambdas that capture per-row outer columns
    (``word``, ``bl``) nondeterministically — measured, a sharper form
    of the list-typed-accumulator bug recorded in
    ``pipeline/unigram.py`` (the BPE oracles' folds survive because
    their only captures, ``b.l``/``b.r``, come from a 1-row join and
    are row-constant).  The recursive walk is pure relational algebra,
    emits exactly one terminal row per word, and computes the identical
    segmentation."""
    merged_union = "\n  UNION\n  ".join(
        f"SELECT l || substr(r, 3) AS token FROM wb{i}" for i in range(1, k + 1)
    )
    return f"""{_wp_ctes(k, where="WHERE doc_id % 2 = 0")},
wv AS MATERIALIZED (
  SELECT DISTINCT tok AS token
  FROM (SELECT unnest(str_split(sym, ' ')) AS tok FROM wp0)
  UNION
  {merged_union}
), ew AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY word
), eh AS MATERIALIZED (
  SELECT g.word, g.j, max(g.l) AS maxl
  FROM (
    SELECT t.word, jj.j, ll.l,
           (CASE WHEN jj.j = 1 THEN '' ELSE '##' END)
             || substr(t.word, jj.j, ll.l) AS piece
    FROM (SELECT word, length(word) AS n FROM ew) t,
         LATERAL (SELECT unnest(generate_series(1, t.n)) AS j) jj,
         LATERAL (SELECT unnest(generate_series(1, {max_piece_len})) AS l) ll
    WHERE jj.j + ll.l - 1 <= t.n
  ) g JOIN wv ON g.piece = wv.token
  GROUP BY g.word, g.j
), es AS (
  SELECT word, freq, length(word) AS n,
         unnest(generate_series(1, length(word))) AS j
  FROM ew
), eb AS MATERIALIZED (
  SELECT word, freq, n, list(coalesce(maxl, 0) ORDER BY j) AS bl
  FROM es LEFT JOIN eh USING (word, j)
  GROUP BY word, freq, n
), wkw AS (
  SELECT word, freq, n, bl, 1 AS pos, '' AS sym, FALSE AS failed
  FROM eb
  UNION ALL
  SELECT word, freq, n, bl,
         CASE WHEN bl[pos] = 0 THEN pos
              ELSE pos + CAST(bl[pos] AS INTEGER) END,
         CASE WHEN bl[pos] = 0 THEN sym
              ELSE sym || (CASE WHEN pos = 1 THEN '' ELSE ' ##' END)
                   || substr(word, pos, CAST(bl[pos] AS INTEGER)) END,
         bl[pos] = 0
  FROM wkw WHERE pos <= n AND NOT failed
), wseg AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN failed THEN '[UNK]' ELSE sym END AS sym
  FROM wkw WHERE failed OR pos > n
)"""


def _wp_encode_oracle(k: int = _WP_MERGES, max_piece_len: int = 10) -> str:
    return (
        f"WITH RECURSIVE {_wp_maxmatch_ctes(k, max_piece_len)}\n"
        "SELECT word, freq, sym FROM wseg"
    )


def _triad_fertility_oracle(k: int = _WP_MERGES) -> str:
    """All FOUR tokenizer trainings unrolled in ONE oracle (the BPE,
    unigram, and WordPiece CTE generators share no names; byte-BPE
    reuses the BPE iteration CTEs under the ``bb`` prefix), then one
    fertility block per tokenizer.  The three word-level tokenizers
    share the SAME whitespace-word instance stream with unigram's
    24-char junk-word cap applied uniformly; the byte-level row scores
    its own unit — the GPT-2 PRE-token (space-only pre-tokens excluded,
    same 24-char cap) — since byte merges never see bare words.  Both
    caps are part of the entry spec."""
    fert = "\nUNION ALL\n".join(
        f"""SELECT '{name}' AS tokenizer, lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       CAST(CAST(sum(n_sub) AS BIGINT) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS subwords_per_token
FROM finst JOIN f{tag} USING (word) GROUP BY lang"""
        for name, tag in (("bpe", "b"), ("unigram", "u"), ("wordpiece", "w"))
    )
    return f"""WITH {_bpe_ctes(k)},
{_unigram_ctes(2)},
{_wp_ctes(k)},
{_byte_bpe_ctes(k, pfx="bb", mutate=False)},
finst AS (
  SELECT lang, word
  FROM (SELECT lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
        FROM documents)
  WHERE word <> '' AND length(word) <= 24
), binst AS (
  SELECT lang, word
  FROM (SELECT lang, unnest(regexp_extract_all(text, '{_BB_PAT_SQL}'))
        AS word FROM documents)
  WHERE trim(word) <> '' AND length(word) <= 24
), fb AS (
  SELECT word, CAST(len(str_split(sym, ' ')) AS BIGINT) AS n_sub FROM w{k}
), fu AS (
  SELECT word, CAST(len(str_split(sym, ' ')) AS BIGINT) AS n_sub FROM useg2
), fw AS (
  SELECT word, CAST(len(str_split(sym, ' ')) AS BIGINT) AS n_sub FROM wp{k}
), fbb AS (
  SELECT word, CAST(len(str_split(sym, ' ')) AS BIGINT) AS n_sub FROM bbw{k}
)
{fert}
UNION ALL
SELECT 'byte_bpe' AS tokenizer, lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       CAST(CAST(sum(n_sub) AS BIGINT) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS subwords_per_token
FROM binst JOIN fbb USING (word) GROUP BY lang"""


@query("tokenizer_fertility_report", _triad_fertility_oracle(_WP_MERGES))
def tokenizer_fertility_report(spark, sf_dir):
    """Tokenizer capstone: train all FOUR classic subword tokenizers on
    the same corpus — BPE (frequency argmax), unigram-LM (hard-EM
    pruning), WordPiece (likelihood-gain argmax), and byte-level BPE
    (GPT-2 pre-tokens over the byte alphabet) — and report per-language
    fertility (subwords per token) side by side, the comparison a
    pipeline runs before picking its tokenizer.  The three word-level
    tokenizers share one instance stream (unigram's 24-char junk-word
    cap applied uniformly so they cover the same tokens — part of the
    spec); the byte row scores its own unit, the GPT-2 pre-token
    (space-only pre-tokens excluded, same cap).  One broadcast-sized
    segmentation join + combiner groupBy per tokenizer.  All FOUR
    training trajectories unroll in the single oracle (byte-BPE rides
    the shared iteration CTEs under the ``bb`` prefix), so the whole
    report value-hashes."""
    from functools import reduce

    from .pipeline.bpe import bpe_train, subword_stats
    from .pipeline.byte_bpe import byte_bpe_train, byte_subword_stats
    from .pipeline.unigram import unigram_train
    from .pipeline.wordpiece import wordpiece_train

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    _mb, bw = bpe_train(docs, n_merges=_WP_MERGES)
    _pu, uw = unigram_train(docs, iters=2, max_len=4, seed_multi=200)
    _mw, ww = wordpiece_train(docs, n_merges=_WP_MERGES)
    _mbb, bbw = byte_bpe_train(docs, n_merges=_WP_MERGES)
    outs = [
        subword_stats(docs, wt, max_word_len=24).select(
            F.lit(name).alias("tokenizer"),
            "lang",
            "n_tokens",
            F.col("n_subwords").cast("long").alias("n_subwords"),
            "subwords_per_token",
        )
        for name, wt in (("bpe", bw), ("unigram", uw), ("wordpiece", ww))
    ] + [
        # 4th row (VERDICT r8 ask #2): byte-level BPE, scored on its own
        # unit — the GPT-2 pre-token (see byte_subword_stats)
        byte_subword_stats(docs, bbw, max_word_len=24).select(
            F.lit("byte_bpe").alias("tokenizer"),
            "lang",
            "n_tokens",
            F.col("n_subwords").cast("long").alias("n_subwords"),
            "subwords_per_token",
        )
    ]
    return reduce(lambda a, b: a.unionByName(b), outs)


@query("wordpiece_train_merges", _wp_train_oracle(_WP_MERGES))
def wordpiece_train_merges(spark, sf_dir):
    """WordPiece subword vocabulary training (Schuster & Nakajima 2012;
    `pipeline/wordpiece.wordpiece_train`) — completes the tokenizer
    triad next to `bpe_train_merges` (frequency argmax) and
    `unigram_lm_train` (EM pruning): 8 merges by LIKELIHOOD-GAIN argmax
    score = cnt(pair)/(cnt(left)·cnt(right)) over the ``##``-marked
    distinct-word table.  Per iteration (r12): ONE fused symbol+pair
    count pass over the word table (vocab²-bounded, persisted), the
    vocab-SIZED symbol counts to the driver, pair scoring through a
    parsed literal map (same exact BIGINTs a join would carry), a 1-row
    argmax collect, and a JVM greedy-leftmost fold — the corpus never
    shuffles, only the word table.  The score is one exactly-rounded
    IEEE expression over exact BIGINTs and the tie-break is total, so
    the oracle's 8 unrolled iterations replay the whole trajectory bit
    for bit."""
    from .pipeline.wordpiece import wordpiece_train

    e = engine_for(spark, sf_dir)
    merges, _words = wordpiece_train(e.table("documents"), n_merges=_WP_MERGES)
    return merges


@query("wordpiece_encode_maxmatch", _wp_encode_oracle(_WP_MERGES))
def wordpiece_encode_maxmatch(spark, sf_dir):
    """Greedy longest-match-first WordPiece ENCODING — the real BERT
    inference algorithm, not merge replay (`pipeline/wordpiece.
    maxmatch_encode`): train on the even-doc half, then segment the
    FULL corpus's distinct words against the trained vocabulary (base
    ``##``-marked characters + merged pieces).  Per distinct word: a
    substring grid (≤ 10·|word| slots) joins the broadcast vocabulary
    for per-position best-match lengths, then ONE whole-stage-codegen
    forward fold walks the word; any positionless match yields
    whole-word ``[UNK]`` (BERT's failure semantics — reachable here
    exactly when the odd half contributes a character the even half
    never saw).  The 10-char candidate cap is part of the entry spec
    (both engines apply it identically).  Training, vocabulary, grid,
    and walk all replay in the oracle."""
    from .pipeline.wordpiece import (
        maxmatch_encode,
        wordpiece_train,
        wordpiece_vocab,
        wordpiece_word_table,
    )

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    train_docs = docs.filter(F.col("doc_id") % 2 == 0)
    merges, words = wordpiece_train(train_docs, n_merges=_WP_MERGES)
    # vocab derives from the TRAINED word table — no training-corpus
    # re-scan; the full-corpus word table below is the encode input
    vocab = wordpiece_vocab(words, merges)
    # check_reachability=False: the 10-char cap is PINNED as part of this
    # entry's spec (the oracle applies it identically) — truncation is
    # the declared semantics here, not an accident
    return maxmatch_encode(
        wordpiece_word_table(docs), vocab, max_piece_len=10,
        check_reachability=False,
    )


@query(
    "quality_perplexity_lm",
    """WITH trt AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE doc_id % 2 = 0 AND length(trim(text)) > 0
), big AS (
  SELECT t[i] AS c, t[i+1] AS w
  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
        FROM trt WHERE len(t) >= 2)
), bigc AS (SELECT c, w, count(*) AS cw FROM big GROUP BY 1, 2
), ctxc AS (SELECT c, count(*) AS cc FROM big GROUP BY 1
), voc AS (
  SELECT CAST(count(DISTINCT tok) + 1 AS BIGINT) AS v
  FROM (SELECT unnest(t) AS tok FROM trt)
), st AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE doc_id % 2 = 1 AND length(trim(text)) > 0
), sb AS (
  SELECT doc_id, t[i] AS c, t[i+1] AS w
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        FROM st WHERE len(t) >= 2)
), scored AS (
  SELECT sb.doc_id,
         CASE WHEN ctxc.cc IS NULL
              THEN CAST(1 AS DOUBLE) / CAST(voc.v AS DOUBLE)
              ELSE CAST(coalesce(bigc.cw, 0) + 1 AS DOUBLE)
                   / CAST(ctxc.cc + voc.v AS DOUBLE)
         END AS p
  FROM sb LEFT JOIN bigc USING (c, w) LEFT JOIN ctxc USING (c) CROSS JOIN voc
), q AS (
  SELECT doc_id,
         CAST(floor(ln(p) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS logq
  FROM scored
)
SELECT doc_id, count(*) AS n_bigrams,
       CAST(-sum(logq) AS BIGINT) AS nll_micronats,
       CAST(-sum(logq) AS DOUBLE)
         / (CAST(1000000 AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS nll_nats,
       (CAST(-sum(logq) AS DOUBLE)
         / (CAST(1000000 AS DOUBLE) * CAST(count(*) AS DOUBLE)))
         <= CAST(3.4375 AS DOUBLE) AS kept
FROM q GROUP BY doc_id""",
)
def quality_perplexity_lm(spark, sf_dir):
    """CCNet-style LM perplexity filtering (`pipeline/lm.py`): train an
    add-one-smoothed bigram LM on the trusted half of the corpus (even
    doc_ids), score the other half's mean negative log-likelihood in
    nats-per-bigram, and keep documents under a perplexity threshold.
    Training is two combiner-friendly groupBy counts over the exploded
    bigram stream; scoring is two keyed LEFT joins (AQE splits the
    Zipf-skewed context key at scale).  Per-bigram log-probs quantize to
    integer micronats by spec, so every aggregate is exact integer math —
    partitioning and sum order can't perturb the value hash.  Threshold
    3.4375 is dyadic (exact in binary), so the keep flag can't sit on a
    rounding boundary."""
    from .pipeline.lm import perplexity_filter, train_bigram_lm

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return perplexity_filter(
        docs.filter(F.col("doc_id") % 2 == 1), lm, threshold_nats=3.4375
    )


# Shared add-one-bigram-LM scoring CTEs (train on even doc_ids, score
# the odd half, join back the language) -- the prefix both tercile
# bucketing oracles build on.
_PPL_SCORE_CTES = """trt AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE doc_id % 2 = 0 AND length(trim(text)) > 0
), big AS (
  SELECT t[i] AS c, t[i+1] AS w
  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
        FROM trt WHERE len(t) >= 2)
), bigc AS (SELECT c, w, count(*) AS cw FROM big GROUP BY 1, 2
), ctxc AS (SELECT c, count(*) AS cc FROM big GROUP BY 1
), voc AS (
  SELECT CAST(count(DISTINCT tok) + 1 AS BIGINT) AS v
  FROM (SELECT unnest(t) AS tok FROM trt)
), st AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE doc_id % 2 = 1 AND length(trim(text)) > 0
), sb AS (
  SELECT doc_id, t[i] AS c, t[i+1] AS w
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        FROM st WHERE len(t) >= 2)
), scored AS (
  SELECT sb.doc_id,
         CASE WHEN ctxc.cc IS NULL
              THEN CAST(1 AS DOUBLE) / CAST(voc.v AS DOUBLE)
              ELSE CAST(coalesce(bigc.cw, 0) + 1 AS DOUBLE)
                   / CAST(ctxc.cc + voc.v AS DOUBLE)
         END AS p
  FROM sb LEFT JOIN bigc USING (c, w) LEFT JOIN ctxc USING (c) CROSS JOIN voc
), q AS (
  SELECT doc_id,
         CAST(floor(ln(p) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS logq
  FROM scored
), agg AS (
  SELECT doc_id, count(*) AS n_bigrams,
         CAST(-sum(logq) AS BIGINT) AS nll_micronats,
         CAST(-sum(logq) AS DOUBLE)
           / (CAST(1000000 AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS nll_nats
  FROM q GROUP BY doc_id
), keyed AS (
  SELECT agg.*, d.lang FROM agg JOIN documents d USING (doc_id)
)"""


@query(
    "mix_perplexity_buckets",
    f"""WITH {_PPL_SCORE_CTES}
SELECT doc_id, lang, n_bigrams, nll_micronats, nll_nats,
       CASE ntile(3) OVER (PARTITION BY lang ORDER BY nll_nats, doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM keyed""",
)
def mix_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020;
    `pipeline/lm.perplexity_buckets`) — the data-mixing stage that sits
    between `quality_perplexity_lm` (score + threshold) and
    `temperature_sample_by_lang` in a CCNet-style pipeline: train the
    add-one bigram LM on the trusted half (even doc_ids), score the
    other half, and split EACH LANGUAGE into perplexity terciles via one
    ntile window (per-language sorts — embarrassingly parallel across
    languages; the mergeable-histogram sketch is the approximate-cutoff
    alternative at extreme scale).  NLL is exact integer micronats; the
    tercile order ties break on doc_id; ntile's remainder rule matches
    across engines — the whole assignment value-hashes."""
    from .pipeline.lm import perplexity_buckets, train_bigram_lm

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return perplexity_buckets(docs.filter(F.col("doc_id") % 2 == 1), lm)


def _ppl_cut_expr(q_sql: str) -> str:
    """One interpolated histogram-quantile cutoff (the
    `sketch.hist_group_quantiles` expression chain verbatim: target rank
    ceil(q·n) clamped to ≥1, the unique crossing bin, in-bin linear
    interpolation over the dyadic [2, 6)/256 NLL domain)."""
    t = f"greatest(1, CAST(ceil(({q_sql}) * t.n_rows) AS BIGINT))"
    return (
        f"min(CASE WHEN cum >= {t} AND cum - c < {t} THEN "
        f"2.0 + 0.015625 * (CAST(bin AS DOUBLE) "
        f"+ CAST({t} - (cum - c) AS DOUBLE) / CAST(c AS DOUBLE)) END)"
    )


@query(
    "mix_perplexity_cutoffs",
    f"""WITH {_PPL_SCORE_CTES}, hist AS (
  SELECT lang,
         least(255, greatest(0,
           CAST(floor((nll_nats - 2.0) / 0.015625) AS BIGINT))) AS bin,
         count(*) AS c
  FROM keyed GROUP BY 1, 2
), cum AS (
  SELECT lang, bin, c,
         sum(c) OVER (PARTITION BY lang ORDER BY bin) AS cum
  FROM hist
), tot AS (SELECT lang, sum(c) AS n_rows FROM hist GROUP BY lang
), cuts AS (
  SELECT cum.lang,
         {_ppl_cut_expr("1.0/3.0")} AS cut_head,
         {_ppl_cut_expr("2.0/3.0")} AS cut_middle
  FROM cum JOIN tot t USING (lang) GROUP BY cum.lang
)
SELECT doc_id, keyed.lang, n_bigrams, nll_micronats, nll_nats,
       CASE WHEN nll_nats <= cut_head THEN 'head'
            WHEN nll_nats <= cut_middle THEN 'middle'
            ELSE 'tail' END AS bucket
FROM keyed JOIN cuts ON keyed.lang = cuts.lang""",
)
def mix_perplexity_cutoffs(spark, sf_dir):
    """CCNet tercile bucketing WITHOUT the per-language sort
    (`pipeline/lm.perplexity_bucket_cutoffs` — VERDICT r8 ask #3: the
    dominant-language escape documented on `perplexity_buckets` shipped
    as an operator).  Same LM, same scored half, same output shape as
    `mix_perplexity_buckets`, but the tercile CUTOFFS come from the
    mergeable fixed-width histogram sketch (256 dyadic bins over the
    [2, 6) NLL domain, q = 1/3, 2/3 with in-bin interpolation) and each
    document's bucket is a stateless `nll ≤ cutoff` comparison against
    the broadcast per-language cutoffs.  The shuffle carries at most
    languages × 256 histogram rows — a 45%-English 100 TB corpus no
    longer pushes one giant partition through an ntile window (the
    SCALING.md round-9 probe measures the sort removed).  Boundary
    semantics are the sketch's, by spec; every arithmetic step (dyadic
    bin width, integer ranks, one double interpolation) replays
    engine-exactly in the oracle."""
    from .pipeline.lm import perplexity_bucket_cutoffs, train_bigram_lm

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    out = perplexity_bucket_cutoffs(docs.filter(F.col("doc_id") % 2 == 1), lm)
    rows = out.collect()  # pin: the plan reads localCheckpoint blocks
    return spark.createDataFrame(rows, out.schema)


@query(
    "quality_backoff_trigram",
    """WITH trt AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE doc_id % 2 = 0 AND length(trim(text)) > 0
), tks AS (SELECT unnest(t) AS w FROM trt
), tric AS (
  SELECT t[i] AS c2, t[i+1] AS c1, t[i+2] AS w, count(*) AS ct
  FROM (SELECT t, unnest(generate_series(1, len(t)-2)) AS i
        FROM trt WHERE len(t) >= 3)
  GROUP BY 1, 2, 3
), bigc AS (
  SELECT t[i] AS c, t[i+1] AS w, count(*) AS cb
  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
        FROM trt WHERE len(t) >= 2)
  GROUP BY 1, 2
), unic AS (SELECT w, count(*) AS cu FROM tks GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT w) + 1 AS BIGINT) AS v FROM tks
), st AS (
  SELECT doc_id, t[i] AS c2, t[i+1] AS c1, t[i+2] AS w
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents WHERE doc_id % 2 = 1
                AND length(trim(text)) > 0)
        WHERE len(t) >= 3)
), j AS (
  SELECT st.doc_id,
         CASE WHEN tc.ct IS NOT NULL
                THEN CAST(tc.ct AS DOUBLE) / CAST(bx.cb AS DOUBLE)
              WHEN bl.cb IS NOT NULL
                THEN CAST(0.4 AS DOUBLE)
                     * (CAST(bl.cb AS DOUBLE) / CAST(ux.cu AS DOUBLE))
              WHEN uw.cu IS NOT NULL
                THEN CAST(0.4 AS DOUBLE) * (CAST(0.4 AS DOUBLE)
                     * (CAST(uw.cu AS DOUBLE) / CAST(tot.n_tokens AS DOUBLE)))
              ELSE CAST(0.4 AS DOUBLE) * (CAST(0.4 AS DOUBLE)
                   * (CAST(1 AS DOUBLE)
                      / CAST(tot.n_tokens + tot.v AS DOUBLE)))
         END AS p,
         CASE WHEN tc.ct IS NOT NULL THEN 'tri'
              WHEN bl.cb IS NOT NULL THEN 'big'
              WHEN uw.cu IS NOT NULL THEN 'uni' ELSE 'oov' END AS lvl
  FROM st
  LEFT JOIN tric tc ON tc.c2 = st.c2 AND tc.c1 = st.c1 AND tc.w = st.w
  LEFT JOIN bigc bx ON bx.c = st.c2 AND bx.w = st.c1
  LEFT JOIN bigc bl ON bl.c = st.c1 AND bl.w = st.w
  LEFT JOIN unic ux ON ux.w = st.c1
  LEFT JOIN unic uw ON uw.w = st.w
  CROSS JOIN tot
), q AS (
  SELECT doc_id, lvl,
         CAST(floor(ln(p) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS logq
  FROM j
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(CASE WHEN lvl = 'tri' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tri_hits,
       CAST(sum(CASE WHEN lvl = 'big' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_big_hits,
       CAST(sum(CASE WHEN lvl = 'uni' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_uni_hits,
       CAST(sum(CASE WHEN lvl = 'oov' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(-sum(logq) AS BIGINT) AS nll_micronats,
       CAST(-sum(logq) AS DOUBLE)
         / (CAST(1000000 AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS nll_nats
FROM q GROUP BY doc_id""",
)
def quality_backoff_trigram(spark, sf_dir):
    """KenLM-style trigram scoring with STUPID BACKOFF (Brants et al.
    2007; `pipeline/lm.backoff_score`) — the higher-order LM CCNet-class
    pipelines actually score with, next to the add-one bigram filter
    (`quality_perplexity_lm`): train raw trigram/bigram/unigram counts
    on the trusted half, score the other half per trigram position,
    backing off tri→big→uni→OOV-floor with α=0.4 at each step.  Counts
    are exact BIGINTs, each branch is a fixed-shape IEEE expression
    (α factors multiply innermost-first in both engines), per-position
    scores quantize to integer micronats before the per-doc sum.  The
    per-doc backoff-level hit counts (n_tri/n_big/n_uni/n_oov) are the
    coverage diagnostic — whether the trusted slice is big enough for
    the trigram head to carry the score.  Shape: one trigram explode +
    five keyed LEFT joins (Zipf-skewed context keys — AQE skew-join at
    scale, broadcast when the trusted LM is small) + one doc-keyed
    combine — no window, no sort, no driver state."""
    from .pipeline.lm import backoff_score, train_backoff_lm

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    lm = train_backoff_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return backoff_score(docs.filter(F.col("doc_id") % 2 == 1), lm)


# Interpolated-KN per-doc scoring oracle (train = even doc_ids, score =
# odd): shared by quality_kneser_ney_trigram (batch training) and
# stream_kn_ingest (model reconstructed from the streamed delta store)
# — the two entries must produce the SAME table.
_KN_ORACLE_SQL = """WITH trt AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE doc_id % 2 = 0 AND length(trim(text)) > 0
), tks AS (SELECT unnest(t) AS w FROM trt
), tric AS (
  SELECT t[i] AS c2, t[i+1] AS c1, t[i+2] AS w, count(*) AS ct
  FROM (SELECT t, unnest(generate_series(1, len(t)-2)) AS i
        FROM trt WHERE len(t) >= 3)
  GROUP BY 1, 2, 3
), bigc AS (
  SELECT t[i] AS c, t[i+1] AS w, count(*) AS cb
  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
        FROM trt WHERE len(t) >= 2)
  GROUP BY 1, 2
), ctx2 AS (
  SELECT c2, c1, sum(ct) AS cb_ctx, count(*) AS n1p_ctx2
  FROM tric GROUP BY 1, 2
), contb AS (SELECT c1, w, count(*) AS nbw FROM tric GROUP BY 1, 2
), fol AS (SELECT c AS c1, count(*) AS n1p_fol FROM bigc GROUP BY 1
), mid AS (
  SELECT m.c1, m.n1p_mid, f.n1p_fol
  FROM (SELECT c1, sum(nbw) AS n1p_mid FROM contb GROUP BY 1) m
  JOIN fol f USING (c1)
), contu AS (SELECT w, count(*) AS n1p_w FROM bigc GROUP BY 1
), tot AS (SELECT CAST(count(*) AS BIGINT) AS nbt FROM bigc
), vt AS (SELECT CAST(count(DISTINCT w) + 1 AS BIGINT) AS v FROM tks
), st AS (
  SELECT doc_id, t[i] AS c2, t[i+1] AS c1, t[i+2] AS w
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents WHERE doc_id % 2 = 1
                AND length(trim(text)) > 0)
        WHERE len(t) >= 3)
), j1 AS (
  SELECT st.doc_id, tc.ct, cx.cb_ctx, cx.n1p_ctx2, cb.nbw,
         m.n1p_mid, m.n1p_fol, cu.n1p_w,
         CASE WHEN cu.n1p_w IS NOT NULL
              THEN CAST(cu.n1p_w AS DOUBLE) / CAST(tot.nbt AS DOUBLE)
              ELSE CAST(1 AS DOUBLE) / CAST(tot.nbt + vt.v AS DOUBLE)
         END AS p_uni
  FROM st
  LEFT JOIN tric tc ON tc.c2 = st.c2 AND tc.c1 = st.c1 AND tc.w = st.w
  LEFT JOIN ctx2 cx ON cx.c2 = st.c2 AND cx.c1 = st.c1
  LEFT JOIN contb cb ON cb.c1 = st.c1 AND cb.w = st.w
  LEFT JOIN mid m ON m.c1 = st.c1
  LEFT JOIN contu cu ON cu.w = st.w
  CROSS JOIN tot CROSS JOIN vt
), j2 AS (
  SELECT *,
         CASE WHEN n1p_mid IS NOT NULL
              THEN greatest(CAST(coalesce(nbw, 0) AS DOUBLE)
                              - CAST(0.75 AS DOUBLE),
                            CAST(0 AS DOUBLE)) / CAST(n1p_mid AS DOUBLE)
                   + (CAST(0.75 AS DOUBLE) * CAST(n1p_fol AS DOUBLE)
                      / CAST(n1p_mid AS DOUBLE)) * p_uni
              ELSE p_uni END AS p_bi
  FROM j1
), j3 AS (
  SELECT doc_id,
         CASE WHEN cb_ctx IS NOT NULL
              THEN greatest(CAST(coalesce(ct, 0) AS DOUBLE)
                              - CAST(0.75 AS DOUBLE),
                            CAST(0 AS DOUBLE)) / CAST(cb_ctx AS DOUBLE)
                   + (CAST(0.75 AS DOUBLE) * CAST(n1p_ctx2 AS DOUBLE)
                      / CAST(cb_ctx AS DOUBLE)) * p_bi
              ELSE p_bi END AS p,
         CASE WHEN ct IS NOT NULL THEN 'tri'
              WHEN nbw IS NOT NULL THEN 'big'
              WHEN n1p_w IS NOT NULL THEN 'uni' ELSE 'oov' END AS lvl
  FROM j2
), q AS (
  SELECT doc_id, lvl,
         CAST(floor(ln(p) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS logq
  FROM j3
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(CASE WHEN lvl = 'tri' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tri_hits,
       CAST(sum(CASE WHEN lvl = 'big' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_big_hits,
       CAST(sum(CASE WHEN lvl = 'uni' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_uni_hits,
       CAST(sum(CASE WHEN lvl = 'oov' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(-sum(logq) AS BIGINT) AS nll_micronats,
       CAST(-sum(logq) AS DOUBLE)
         / (CAST(1000000 AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS nll_nats
FROM q GROUP BY doc_id"""


@query(
    "quality_kneser_ney_trigram",
    _KN_ORACLE_SQL,
)
def quality_kneser_ney_trigram(spark, sf_dir):
    """Interpolated Kneser-Ney trigram scoring (Kneser & Ney 1995; Chen
    & Goodman 1999 — `pipeline/lm.kn_score`), the smoothing family the
    production 5-gram KenLM models in CCNet-class pipelines use, next
    to the stupid-backoff sibling (`quality_backoff_trigram`): train
    the six KN count tables on the trusted half (trigram/bigram types,
    continuation counts N1+(·c1w)/N1+(·w), context normalizers), score
    the other half per trigram position with the single-discount
    D = 0.75 interpolation — unseen contexts back off a full level, OOV
    takes the documented `1/(N1+(··)+V)` floor.  Every count is an
    exact BIGINT; each interpolation branch is a fixed-shape IEEE
    expression the oracle replays verbatim (staged p_uni → p_bi → p_tri
    CTEs mirror the Spark expression tree), and per-position logs
    quantize to integer micronats before the per-doc sum.  Shape: one
    trigram explode + six keyed LEFT joins against vocabulary-sized
    count tables + one doc-keyed combine — no window, no sort, no
    driver state; the `backoff_score` join-strategy note (broadcast
    small trusted slices, AQE skew-join at corpus×corpus scale, never
    hint shuffle_hash) applies verbatim."""
    from .pipeline.lm import kn_score, train_kn_lm

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    lm = train_kn_lm(docs.filter(F.col("doc_id") % 2 == 0))
    return kn_score(docs.filter(F.col("doc_id") % 2 == 1), lm)


@query(
    "rank_bm25_topk",
    """WITH tok AS (
  SELECT doc_id, len(t) AS dl, unnest(t) AS term
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents WHERE length(trim(text)) > 0)
), stats AS (
  SELECT count(DISTINCT doc_id) AS n_docs, count(*) AS sum_dl FROM tok
), tf AS (
  SELECT doc_id, term, dl, count(*) AS tf
  FROM tok WHERE term IN ('hash', 'stream', 'vector')
  GROUP BY 1, 2, 3
), dft AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1
), j AS (
  SELECT tf.doc_id,
         (CAST(CAST(floor(ln(CAST(1 AS DOUBLE)
             + (CAST(stats.n_docs - dft.dft AS DOUBLE) + CAST(0.5 AS DOUBLE))
               / (CAST(dft.dft AS DOUBLE) + CAST(0.5 AS DOUBLE)))
             * CAST(1000000 AS DOUBLE)) AS BIGINT) AS DOUBLE)
           / CAST(1000000 AS DOUBLE))
         * ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE)))
            / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
               * (CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                  + CAST(0.75 AS DOUBLE) * (CAST(tf.dl AS DOUBLE)
                    / (CAST(stats.sum_dl AS DOUBLE)
                       / CAST(stats.n_docs AS DOUBLE))))))
         AS ts
  FROM tf JOIN dft USING (term) CROSS JOIN stats
)
SELECT doc_id, count(*) AS n_terms_matched,
       CAST(sum(CAST(ts AS DECIMAL(38,14))) AS DOUBLE) AS score
FROM j GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 15""",
)
def rank_bm25_topk(spark, sf_dir):
    """Okapi BM25 lexical retrieval (`pipeline/retrieval.py`): top-15
    documents for a 3-term probe query — the query-based corpus-selection
    primitive next to the embedding ANN operators.  r12 shape: per-doc
    term frequencies are |query| size(filter()) projections (no token
    explode, no (doc, term) shuffle, no cached tf table); ONE 1-row
    global aggregate (n_docs, Σdl, per-term document frequencies)
    broadcasts back, scoring is a pure projection over matched docs, and
    the ranking is TakeOrderedAndProject — no global sort.  The idf's ln
    is micronat-quantized by spec and each per-term score is rounded
    half-even to integer 1e-14 units (the value of the oracle's
    CAST(ts AS DECIMAL(38,14))), summed as BIGINT and divided once, so
    the score is order-independent and bit-identical across engines."""
    from .pipeline.retrieval import bm25_topk

    e = engine_for(spark, sf_dir)
    return bm25_topk(e.table("documents"), ["vector", "hash", "stream"], k=15)


@query(
    "graph_components_copurchase",
    """WITH RECURSIVE e0 AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), de AS (
  SELECT pa AS src, pb AS dst FROM e0
  UNION ALL SELECT pb, pa FROM e0
), reach(id, lbl) AS (
  SELECT src, src FROM de
  UNION
  SELECT de.src, r.lbl FROM de JOIN reach r ON r.id = de.dst
)
SELECT id AS part_id, CAST(min(lbl) AS BIGINT) AS cluster_id
FROM reach GROUP BY id""",
)
def graph_components_copurchase(spark, sf_dir):
    """Connected components of the co-purchase graph: parts sharing an
    order (support ≥ 2) are edges; every node gets its component's min
    part id via the distributed min-label-propagation loop
    (`pipeline/dedup.connected_components` — join + groupBy-min per
    round, lineage cut with localCheckpoint, converges in diameter
    rounds).  The oracle computes the same fixpoint with a recursive
    transitive-closure CTE, so the iterative Spark loop is value-checked
    against a declarative ground truth."""
    from .pipeline.dedup import connected_components
    from .pipeline.graph import co_occurrence_edges

    e = engine_for(spark, sf_dir)
    edges = co_occurrence_edges(
        e.table("lineitem"), "l_orderkey", "l_partkey", min_support=2
    )
    labels = connected_components(edges, "pa", "pb")
    return labels.select(
        F.col("id").alias("part_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


@query(
    "stream_lm_ingest",
    """WITH t AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), big AS (
  SELECT t[i] AS c, t[i+1] AS w
  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
        FROM t WHERE len(t) >= 2)
)
SELECT c, w, CAST(count(*) AS BIGINT) AS cnt
FROM big GROUP BY c, w""",
)
def stream_lm_ingest(spark, sf_dir):
    """Streaming LM maintenance (`pipeline/lm.bigram_count_deltas`):
    bigram counts are an ADDITIVE sketch, so keeping the LM current under
    ingestion is an append-only delta store — the snapshot half (even
    doc_ids) is counted once, the other half arrives as two parquet
    micro-batches whose ``foreachBatch`` appends each batch's
    map-side-combined count delta (batch-sized work, no state store, no
    retraining), and readers merge deltas with one keyed sum
    (`merge_bigram_counts` — the compaction job at scale).  The entry
    returns the merged counts, so the oracle is simply the full-corpus
    bigram count: snapshot + streamed deltas must reproduce the batch
    answer exactly."""
    import os
    import uuid as _uuid

    from .pipeline.lm import bigram_count_deltas, merge_bigram_counts

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    tag = _uuid.uuid4().hex[:8]
    store = os.path.join(e.warehouse, f"lm_counts_{tag}")
    src = os.path.join(e.warehouse, f"lm_src_{tag}")
    ck = src + "_ck"

    bigram_count_deltas(docs.filter("doc_id % 2 = 0")).write.mode(
        "append"
    ).parquet(store)
    # two single-file arrivals -> two micro-batches under maxFilesPerTrigger=1
    docs.filter("doc_id % 4 = 1").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id % 4 = 3").coalesce(1).write.mode("append").parquet(src)

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def ingest(batch, _bid):
        bigram_count_deltas(batch).write.mode("append").parquet(store)

    q = (
        sdf.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return merge_bigram_counts(spark.read.parquet(store))


@query(
    "stream_backoff_ingest",
    """WITH t AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
)
SELECT CAST(3 AS INT) AS n, t[i] AS g1, t[i+1] AS g2, t[i+2] AS g3,
       CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT t, unnest(generate_series(1, len(t)-2)) AS i
      FROM t WHERE len(t) >= 3)
GROUP BY 2, 3, 4
UNION ALL
SELECT CAST(2 AS INT) AS n, t[i] AS g1, t[i+1] AS g2,
       CAST(NULL AS VARCHAR) AS g3, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
      FROM t WHERE len(t) >= 2)
GROUP BY 2, 3
UNION ALL
SELECT CAST(1 AS INT) AS n, w AS g1, CAST(NULL AS VARCHAR) AS g2,
       CAST(NULL AS VARCHAR) AS g3, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest(t) AS w FROM t)
GROUP BY 2""",
)
def stream_backoff_ingest(spark, sf_dir):
    """Streaming maintenance of the FULL stupid-backoff trigram LM
    (`pipeline/lm.backoff_count_deltas` / `merge_backoff_counts` —
    VERDICT r8 ask #4: `stream_lm_ingest`'s shape at trigram order).
    The model is its trigram/bigram/unigram count triple in ONE unified
    additive table, so keeping it current under ingestion is the same
    LSM-style append-only delta store: the even-doc snapshot is counted
    once, the odd half arrives as two parquet micro-batches whose
    ``foreachBatch`` appends each batch's three map-side-combined count
    deltas (batch-sized work, no state store, no retraining), and
    readers compact with one keyed sum.  The entry returns the merged
    triple; the oracle is the full-corpus count triple, so streamed +
    snapshot deltas must reproduce the batch answer EXACTLY — and
    `backoff_lm_from_counts` reconstructs the complete scoring model
    (totals included) from this table alone, scoring bit-equal to a
    fresh `train_backoff_lm` (locked in tests/test_pipeline_ops.py)."""
    import os
    import uuid as _uuid

    from .pipeline.lm import backoff_count_deltas, merge_backoff_counts

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    tag = _uuid.uuid4().hex[:8]
    store = os.path.join(e.warehouse, f"bko_counts_{tag}")
    src = os.path.join(e.warehouse, f"bko_src_{tag}")
    ck = src + "_ck"

    backoff_count_deltas(docs.filter("doc_id % 2 = 0")).write.mode(
        "append"
    ).parquet(store)
    docs.filter("doc_id % 4 = 1").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id % 4 = 3").coalesce(1).write.mode("append").parquet(src)

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def ingest(batch, _bid):
        backoff_count_deltas(batch).write.mode("append").parquet(store)

    q = (
        sdf.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        q.stop()
        merged = merge_backoff_counts(spark.read.parquet(store))
        rows = merged.collect()
        schema = merged.schema
    finally:
        import shutil

        q.stop()
        # counts fully collected; drop the throwaway store/source/
        # checkpoint dirs (the stream_quality_gate cleanup pattern)
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
    return spark.createDataFrame(rows, schema)



@query(
    "stream_kn_ingest",
    _KN_ORACLE_SQL,
)
def stream_kn_ingest(spark, sf_dir):
    """Streaming maintenance of the interpolated Kneser-Ney trigram LM
    (VERDICT r10 ask #6 — the `stream_backoff_ingest` shape for the KN
    family): ONE unified additive count table serves both scoring
    models, so KN needs no delta store of its own.  The even-doc
    training half arrives incrementally — the doc_id % 4 == 0 snapshot
    is counted once, the % 4 == 2 remainder lands as two parquet
    micro-batches whose ``foreachBatch`` appends each batch's
    map-side-combined count deltas (batch-sized work, no state store,
    no retraining) — readers compact with one keyed sum and
    `kn_lm_from_counts` rebuilds every KN statistic from the merged
    table (type counts of an additive table are exactly recoverable:
    a key exists iff its summed count > 0).  The entry scores the odd
    half with the reconstructed model; the oracle is the BATCH
    full-training-half KN score (`_KN_ORACLE_SQL`, shared with
    `quality_kneser_ney_trigram`), so streamed + snapshot deltas must
    reproduce batch training EXACTLY — the merge-then-score
    bit-equality the unit suite locks, driver-oracled end-to-end."""
    import os
    import uuid as _uuid

    from .pipeline.lm import (
        backoff_count_deltas,
        kn_lm_from_counts,
        kn_score,
        merge_backoff_counts,
    )

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    tag = _uuid.uuid4().hex[:8]
    store = os.path.join(e.warehouse, f"kn_counts_{tag}")
    src = os.path.join(e.warehouse, f"kn_src_{tag}")
    ck = src + "_ck"

    backoff_count_deltas(docs.filter("doc_id % 4 = 0")).write.mode(
        "append"
    ).parquet(store)
    # two single-file arrivals -> two micro-batches under
    # maxFilesPerTrigger=1 (the rest of the even training half)
    docs.filter("doc_id % 8 = 2").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id % 8 = 6").coalesce(1).write.mode("append").parquet(src)

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def ingest(batch, _bid):
        backoff_count_deltas(batch).write.mode("append").parquet(store)

    q = (
        sdf.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        q.stop()
        lm = kn_lm_from_counts(
            merge_backoff_counts(spark.read.parquet(store))
        )
        scored = kn_score(docs.filter(F.col("doc_id") % 2 == 1), lm)
        rows = scored.collect()
        schema = scored.schema
    finally:
        import shutil

        q.stop()
        # scores fully collected; drop the throwaway store/source/
        # checkpoint dirs (the stream_backoff_ingest cleanup pattern)
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@query(
    "text_novelty_ngrams",
    """WITH ref AS (
  SELECT DISTINCT array_to_string(tk[i:i+2], ' ') AS g
  FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS tk
        FROM documents WHERE doc_id % 2 = 0 AND length(trim(text)) > 0) t,
       LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) s
), cand AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
        FROM documents WHERE doc_id % 2 = 1 AND length(trim(text)) > 0) t,
       LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) s
)
SELECT cand.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN ref.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(sum(CASE WHEN ref.g IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS novelty
FROM cand LEFT JOIN ref ON cand.g = ref.g
GROUP BY cand.doc_id""",
)
def text_novelty_ngrams(spark, sf_dir):
    """N-gram novelty scoring (`pipeline/text.ngram_novelty`): fraction
    of each candidate document's distinct word trigrams unseen in the
    reference half of the corpus — the memorization-risk / content-
    freshness signal next to the decontamination family.  Reference
    grams are one combiner distinct; membership is a gram-keyed LEFT
    join (broadcast under the threshold, bloom-prefilter at web scale);
    novelty is an exact int/int double division, so the value hash is
    partition-independent."""
    from .pipeline.text import ngram_novelty

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    return ngram_novelty(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        n=3,
    )


@query("sim_ivfpq_rerank", _ivfpq_oracle(topk=20, rerank_topk=10))
def sim_ivfpq_rerank(spark, sf_dir):
    """Two-stage ANN serving (`pipeline/pq.ivfpq_rerank`): the IVF-PQ
    index shortlists 20 candidates by probed ADC distance (integer sums
    over 4 probed cells), then ONLY those 20 full vectors are fetched
    (id-keyed broadcast join) and re-ranked by exact decimal-accumulated
    cosine — the standard compressed-scan + exact-tail architecture that
    bounds exact math by shortlist size, not corpus size.  The oracle
    replays the entire trajectory: coarse training, residual codebooks,
    encoding, probe ranking, ADC shortlist, and the exact re-rank."""
    from .pipeline.pq import ivfpq_build, ivfpq_rerank

    e = engine_for(spark, sf_dir)
    emb = e.table("embeddings")
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    cents, books, enc = ivfpq_build(emb, n_coarse=8, m=8, k=16, iters=2)
    return ivfpq_rerank(
        enc, emb, cents, books, qvec, nprobe=4, shortlist=20, topk=10
    )


@query(
    "embedding_rp_project",
    """WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE len(embedding) = 64
), js AS (SELECT unnest(generate_series(0, 15)) AS j)
SELECT v.vec_id, CAST(js.j AS BIGINT) AS j,
       list_reduce(
         list_transform(generate_series(1, 64),
           i -> v.e[i] * (CASE WHEN substr(md5('rp:' || CAST(i - 1 AS VARCHAR)
                                 || ':' || CAST(js.j AS VARCHAR)), 1, 1)
                               IN ('0','1','2','3','4','5','6','7')
                          THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)),
         (acc, x) -> acc + x) / sqrt(CAST(16 AS DOUBLE)) AS y
FROM v CROSS JOIN js""",
)
def embedding_rp_project(spark, sf_dir):
    """Johnson-Lindenstrauss dimensionality reduction
    (`pipeline/linalg.random_projection`): project the 64-dim embeddings
    to 16 dims with a dense Achlioptas ±1 matrix whose entries derive
    from md5 — no RNG state, so the oracle re-derives the identical
    matrix and replays the identical index-ordered fold.  The projection
    is a pure per-row codegen expression (zero shuffle, R is literals,
    never data); the standard preprocessing step before LSH bucketing or
    clustering when the ambient dimension is wasteful."""
    from .pipeline.linalg import random_projection

    e = engine_for(spark, sf_dir)
    return random_projection(e.table("embeddings"), out_dim=16, in_dim=64)


@query(
    "dedup_containment_report",
    """WITH grams AS (
         SELECT doc_id,
                list_distinct([substring(text, i, 3)
                               for i in generate_series(1, greatest(length(text)-2, 1))]) AS gs
         FROM documents
       ), sized AS (
         SELECT doc_id, len(gs) AS n, unnest(gs) AS g FROM grams
       ), pairs AS (
         SELECT a.doc_id AS id_a, a.n AS na, b.doc_id AS id_b,
                count(*) AS inter
         FROM sized a JOIN sized b
           ON a.g = b.g AND a.doc_id <> b.doc_id
         GROUP BY 1, 2, 3
       ), conts AS (
         SELECT id_a, count(*) AS n_containers,
                max(CAST(inter AS DOUBLE) / CAST(na AS DOUBLE)) AS best
         FROM pairs
         WHERE CAST(inter AS DOUBLE) / CAST(na AS DOUBLE)
                 >= CAST(0.9 AS DOUBLE)
         GROUP BY id_a
       )
       SELECT g.doc_id, CAST(len(g.gs) AS BIGINT) AS n_grams,
              CAST(coalesce(c.n_containers, 0) AS BIGINT) AS n_containers,
              coalesce(c.best, CAST(0 AS DOUBLE)) AS best_containment
       FROM grams g LEFT JOIN conts c ON c.id_a = g.doc_id""",
)
def dedup_containment_report(spark, sf_dir):
    """Asymmetric near-containment dedup signal
    (`pipeline/dedup.ngram_containment_report`): per document, how many
    others contain ≥ 90% of its distinct character trigrams and the best
    containment — catches short-doc-quoted-in-long-doc subsumption that
    symmetric Jaccard structurally misses.  Bounded one-row-per-doc
    output (the pair space never leaves the aggregation); the max/count
    aggregates are over exact int/int divisions, so the report
    value-hashes on any partitioning."""
    from .pipeline.dedup import ngram_containment_report

    e = engine_for(spark, sf_dir)
    return ngram_containment_report(e.table("documents"), n=3, threshold=0.9)


@query(
    "dedup_exact_substring_pairs",
    """WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), ga AS (
  SELECT doc_id AS doc_a, p, md5(array_to_string(t[p:p+7], ' ')) AS gh
  FROM toks, UNNEST(range(1, len(t) - 8 + 2)) AS u(p)
  WHERE len(t) >= 8 AND doc_id % 2 = 0
), gb AS (
  SELECT doc_id AS doc_b, p, md5(array_to_string(t[p:p+7], ' ')) AS gh
  FROM toks, UNNEST(range(1, len(t) - 8 + 2)) AS u(p)
  WHERE len(t) >= 8 AND doc_id % 2 = 1
), sh AS (
  SELECT ga.doc_a, gb.doc_b, ga.p AS pa, gb.p AS pb, ga.gh
  FROM ga JOIN gb USING (gh)
), cnt AS (
  SELECT doc_a, doc_b, count(DISTINCT gh) AS n_shared_grams
  FROM sh GROUP BY 1, 2
), isl AS (
  SELECT doc_a, doc_b, pa,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                 ORDER BY pa) AS grp,
         pa - pb AS d
  FROM sh
), rl AS (
  SELECT doc_a, doc_b, count(*) AS run
  FROM isl GROUP BY doc_a, doc_b, d, grp
), mx AS (
  SELECT doc_a, doc_b, CAST(max(run) + 7 AS BIGINT) AS max_run_tokens
  FROM rl GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b, CAST(c.n_shared_grams AS BIGINT) AS n_shared_grams,
       m.max_run_tokens
FROM cnt c JOIN mx m USING (doc_a, doc_b)""",
)
def dedup_exact_substring_pairs(spark, sf_dir):
    """Corpus↔corpus exact-substring dedup at k-token granularity
    (`pipeline/dedup.exact_substring_pairs`) — the Lee-et-al exact
    substring shape: documents in corpus A (even doc_id) that share any
    verbatim ≥ 8-token run with corpus B (odd doc_id), with the shared-
    shingle count and the exact longest-common-run length (diagonal
    islands over shared positions).  One digest-keyed gram join — the
    complete, linear-cost detector; the winnowing candidate filter is
    the knob for trimming the shuffle at scale (guarantee k+w−1,
    parity-tested)."""
    from .pipeline.dedup import exact_substring_pairs

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    return exact_substring_pairs(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1"), k=8
    )


@query(
    "dedup_substring_pairs_capped",
    """WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), ga AS (
  SELECT doc_id AS doc_a, p, md5(array_to_string(t[p:p+7], ' ')) AS gh
  FROM toks, UNNEST(range(1, len(t) - 8 + 2)) AS u(p)
  WHERE len(t) >= 8 AND doc_id % 2 = 0
), gb AS (
  SELECT doc_id AS doc_b, p, md5(array_to_string(t[p:p+7], ' ')) AS gh
  FROM toks, UNNEST(range(1, len(t) - 8 + 2)) AS u(p)
  WHERE len(t) >= 8 AND doc_id % 2 = 1
), hot AS (
  SELECT gh FROM (
    SELECT gh, count(*) AS pl FROM ga GROUP BY gh
    UNION ALL
    SELECT gh, count(*) AS pl FROM gb GROUP BY gh
  ) WHERE pl > 2 GROUP BY gh
), ga2 AS (
  SELECT * FROM ga ANTI JOIN hot USING (gh)
), gb2 AS (
  SELECT * FROM gb ANTI JOIN hot USING (gh)
), sh AS (
  SELECT ga2.doc_a, gb2.doc_b, ga2.p AS pa, gb2.p AS pb, ga2.gh
  FROM ga2 JOIN gb2 USING (gh)
), cnt AS (
  SELECT doc_a, doc_b, count(DISTINCT gh) AS n_shared_grams
  FROM sh GROUP BY 1, 2
), isl AS (
  SELECT doc_a, doc_b, pa,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                 ORDER BY pa) AS grp,
         pa - pb AS d
  FROM sh
), rl AS (
  SELECT doc_a, doc_b, count(*) AS run
  FROM isl GROUP BY doc_a, doc_b, d, grp
), mx AS (
  SELECT doc_a, doc_b, CAST(max(run) + 7 AS BIGINT) AS max_run_tokens
  FROM rl GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b, CAST(c.n_shared_grams AS BIGINT) AS n_shared_grams,
       m.max_run_tokens
FROM cnt c JOIN mx m USING (doc_a, doc_b)""",
)
def dedup_substring_pairs_capped(spark, sf_dir):
    """The hot-shingle df-cap of the exact-substring detector
    (`pipeline/dedup.exact_substring_pairs(max_posting_len=2)` — the r6
    verdict's requested knob): shingles occurring more than twice on
    either side are treated as non-matching boilerplate and excluded
    via a broadcast anti-join before the gram join (71–159 shingles per
    side on this corpus), bounding the join blow-up at cap² per digest.
    The oracle replays the same per-side occurrence counts and
    exclusion, so the capped gram counts and run lengths value-hash."""
    from .pipeline.dedup import exact_substring_pairs

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    return exact_substring_pairs(
        docs.filter("doc_id % 2 = 0"),
        docs.filter("doc_id % 2 = 1"),
        k=8,
        max_posting_len=2,
    )


@query(
    "clean_cross_corpus_substrings",
    """WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), ga AS (
  SELECT DISTINCT md5(array_to_string(t[p:p+7], ' ')) AS gh
  FROM toks, UNNEST(range(1, len(t) - 8 + 2)) AS u(p)
  WHERE len(t) >= 8 AND doc_id % 2 = 0
), gb AS (
  SELECT doc_id, p, md5(array_to_string(t[p:p+7], ' ')) AS gh
  FROM toks, UNNEST(range(1, len(t) - 8 + 2)) AS u(p)
  WHERE len(t) >= 8 AND doc_id % 2 = 1
), cov AS (
  SELECT DISTINCT gb.doc_id, u.pos
  FROM gb JOIN ga USING (gh), UNNEST(range(gb.p, gb.p + 8)) AS u(pos)
), tb AS (
  SELECT doc_id, u.pos, t[u.pos] AS w
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(pos)
  WHERE doc_id % 2 = 1
), kept AS (
  SELECT tb.doc_id, string_agg(tb.w, ' ' ORDER BY tb.pos) AS clean_text
  FROM tb ANTI JOIN cov USING (doc_id, pos)
  GROUP BY tb.doc_id
), nrem AS (
  SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id
)
SELECT b.doc_id, CAST(len(b.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
       coalesce(k.clean_text, '') AS clean_text
FROM (SELECT doc_id, t FROM toks WHERE doc_id % 2 = 1) b
LEFT JOIN nrem r USING (doc_id)
LEFT JOIN kept k USING (doc_id)""",
)
def clean_cross_corpus_substrings(spark, sf_dir):
    """Cross-corpus exact-substring REMOVAL
    (`pipeline/dedup.remove_cross_corpus_substrings`): rewrite corpus B
    (odd doc_ids) with every token covered by an exact ≥ 8-token run
    shared with corpus A (even doc_ids) removed — the cleanup half of
    Lee-et-al exact-substring dedup, `dedup_exact_substring_pairs` being
    the report half.  A contributes only distinct shingle digests;
    coverage is a per-doc interval union (overlaps never double-remove);
    the rebuild aggregates each doc's own kept tokens in position
    order."""
    from .pipeline.dedup import remove_cross_corpus_substrings

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    return remove_cross_corpus_substrings(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1"), k=8
    )


@query(
    "text_winnow_fingerprints",
    """WITH base AS (
  SELECT doc_id, text FROM documents WHERE length(text) >= 8
), hs AS (
  SELECT doc_id,
         [('0x' || substring(md5('win:' || substring(text, i, 5)), 1, 13))::BIGINT
          for i in generate_series(1, length(text) - 4)] AS h
  FROM base
), fps AS (
  SELECT doc_id,
         list_distinct([list_min(h[j:j+3])
                        for j in generate_series(1, len(h) - 3)]) AS f
  FROM hs
), e AS (SELECT doc_id, unnest(f) AS fp FROM fps
), partners AS (
  SELECT a.doc_id, count(DISTINCT b.doc_id) AS n_partners
  FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id
)
SELECT f.doc_id, CAST(len(f.f) AS BIGINT) AS n_fps,
       CAST(coalesce(p.n_partners, 0) AS BIGINT) AS n_partners
FROM fps f LEFT JOIN partners p USING (doc_id)""",
)
def text_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (`pipeline/text.winnow_fingerprints` — the
    MOSS local-fingerprinting algorithm): per document, the distinct
    window-minimum k-gram hashes kept (k=5, w=4 — any shared substring
    of ≥ 8 chars guarantees a shared fingerprint) and how many other
    documents share at least one.  Hashing and winnow selection are
    per-row codegen HOFs over the engine-portable md5 hash family; only
    the fingerprint posting join shuffles."""
    from .pipeline.text import winnow_fingerprints

    e = engine_for(spark, sf_dir)
    return winnow_fingerprints(e.table("documents"), k=5, w=4)


_SWEEP_PAIR_CTE = """grams AS (
         SELECT doc_id,
                list_distinct([substring(text, i, 3)
                               for i in generate_series(1, greatest(length(text)-2, 1))]) AS gs
         FROM documents
       ), sized AS (
         SELECT doc_id, len(gs) AS n, unnest(gs) AS g FROM grams
       ), p AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(count(*) AS DOUBLE)
                  / CAST(a.n + b.n - count(*) AS DOUBLE) AS jac
         FROM sized a JOIN sized b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id, a.n, b.n
         HAVING CAST(count(*) AS DOUBLE)
                  / CAST(a.n + b.n - count(*) AS DOUBLE)
                  >= CAST(0.5 AS DOUBLE)
       )"""


@query(
    "dedup_threshold_sweep",
    f"""WITH {_SWEEP_PAIR_CTE},
       th AS (
         SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.6 AS DOUBLE),
                        CAST(0.7 AS DOUBLE), CAST(0.8 AS DOUBLE),
                        CAST(0.9 AS DOUBLE)]) AS threshold
       ), hit AS (
         SELECT th.threshold, p.id_a, p.id_b
         FROM p CROSS JOIN th WHERE p.jac >= th.threshold
       ), np AS (
         SELECT threshold, count(*) AS n_pairs FROM hit GROUP BY threshold
       ), nd AS (
         SELECT threshold, count(*) AS n_docs
         FROM (SELECT DISTINCT threshold, d
               FROM (SELECT threshold, unnest([id_a, id_b]) AS d FROM hit))
         GROUP BY threshold
       )
       SELECT th.threshold,
              CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
              CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
       FROM th LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)""",
)
def dedup_threshold_sweep(spark, sf_dir):
    """Dedup aggressiveness planning
    (`pipeline/dedup.jaccard_threshold_sweep`): pair and affected-doc
    counts at five candidate Jaccard bars from ONE pair computation —
    the sweep broadcasts the threshold list over the scored pairs, so
    choosing the corpus's dedup bar costs one pass, not five."""
    from .pipeline.dedup import jaccard_threshold_sweep

    e = engine_for(spark, sf_dir)
    return jaccard_threshold_sweep(e.table("documents"), n=3)


@query(
    "dedup_cross_source_matrix",
    f"""WITH {_SWEEP_PAIR_CTE}
       SELECT least(da.source, db.source) AS source_a,
              greatest(da.source, db.source) AS source_b,
              count(*) AS n_pairs
       FROM p
       JOIN documents da ON da.doc_id = p.id_a
       JOIN documents db ON db.doc_id = p.id_b
       GROUP BY 1, 2""",
)
def dedup_cross_source_matrix(spark, sf_dir):
    """Provenance analytics (`pipeline/dedup.cross_source_dup_matrix`):
    near-dup pair counts per (source, source) cell at the 0.5 Jaccard
    bar — which ingestion sources mirror each other vs only
    self-duplicate.  Output bounded by the square of the source count;
    the id→source re-attach is two keyed joins (broadcast-sized dims at
    any corpus scale when the source table is the dimension)."""
    from .pipeline.dedup import cross_source_dup_matrix

    e = engine_for(spark, sf_dir)
    return cross_source_dup_matrix(e.table("documents"), n=3, threshold=0.5)


@query(
    "dedup_cluster_size_histogram",
    """WITH RECURSIVE grams AS (
         SELECT doc_id,
                list_distinct([substring(text, i, 3)
                               for i in generate_series(1, greatest(length(text)-2, 1))]) AS gs
         FROM documents
       ), sized AS (
         SELECT doc_id, len(gs) AS n, unnest(gs) AS g FROM grams
       ), pairs AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sized a JOIN sized b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id, a.n, b.n
         HAVING CAST(count(*) AS DOUBLE)
                / CAST(a.n + b.n - count(*) AS DOUBLE) >= 0.8
       ), edges AS (
         SELECT id_a AS u, id_b AS v FROM pairs
         UNION SELECT id_b, id_a FROM pairs
       ), reach(id, r) AS (
         SELECT u, u FROM edges
         UNION
         SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id
       ), labels AS (
         SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
       ), alllab AS (
         SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
         FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
       ), sizes AS (
         SELECT cluster_id, count(*) AS sz FROM alllab GROUP BY cluster_id
       )
       SELECT CAST(sz AS BIGINT) AS cluster_size,
              CAST(count(*) AS BIGINT) AS n_clusters,
              CAST(sz * count(*) AS BIGINT) AS n_docs
       FROM sizes GROUP BY sz""",
)
def dedup_cluster_size_histogram(spark, sf_dir):
    """Duplication-structure report: the distribution of duplicate-
    cluster sizes (same 0.8-Jaccard trigram graph as `dedup_clusters`,
    singletons included) — the one-glance answer to "is duplication a
    few giant families or a long tail of pairs", which decides whether
    canonical-doc selection needs skew handling.  Two counting combines
    over the label table; output bounded by the largest cluster size."""
    from .pipeline.dedup import dedup_clusters, ngram_jaccard_pairs

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    labels = dedup_clusters(docs, pairs)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_clusters")
    ).select(
        F.col("sz").cast("long").alias("cluster_size"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
        (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
    )


@query(
    "clean_c4_rules",
    """WITH d AS (
  SELECT doc_id,
         string_split(text, chr(10)) AS lines,
         list_filter(string_split(text, chr(10)),
           l -> len(regexp_split_to_array(trim(l), '\\s+')) >= 5
            AND substr(trim(l), length(trim(l)), 1) IN ('.', '!', '?', '"')
            AND NOT contains(lower(l), 'javascript')) AS kept,
         contains(lower(text), 'lorem ipsum') AS has_lorem,
         contains(text, '{') AS has_brace
  FROM documents
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       has_lorem, has_brace,
       (len(kept) >= 3 AND NOT has_lorem AND NOT has_brace) AS keep_doc,
       coalesce(array_to_string(kept, chr(10)), '') AS clean_text
FROM d""",
)
def clean_c4_rules(spark, sf_dir):
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2;
    `pipeline/text.c4_clean`): keep lines ending in terminal punctuation
    with ≥5 words and no "javascript"; flag lorem-ipsum / curly-brace /
    under-3-kept-lines documents.  Pure HOF expressions over the line
    array — whole-stage codegen, zero shuffle, embarrassingly parallel
    at 100 TB.  The reference has no string surface at all (SURVEY §2.8);
    this is driver-mandate cleaning territory."""
    from .pipeline import ensure_parallelism
    from .pipeline.text import c4_clean

    e = engine_for(spark, sf_dir)
    return c4_clean(ensure_parallelism(e.table("documents")))


@query(
    "clean_collapse_stutter",
    """WITH tk AS (
  SELECT doc_id, i.i AS i, d.t[i.i] AS w
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents WHERE length(trim(text)) > 0) d
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(d.t))) AS i) i
  WHERE d.t[i.i] <> ''
), m AS (
  SELECT doc_id, i, w,
         lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS pw
  FROM tk
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN pw = w THEN 1 ELSE 0 END) AS BIGINT)
         AS n_collapsed,
       string_agg(CASE WHEN pw IS NULL OR pw <> w THEN w END,
                  ' ' ORDER BY i) AS clean_text
FROM m GROUP BY doc_id""",
)
def clean_collapse_stutter(spark, sf_dir):
    """Token-stutter collapse (`pipeline/text.collapse_stutter`):
    consecutive duplicate whitespace tokens reduce to their first
    occurrence — the OCR/ASR/scrape repeated-word normalization, the
    token-granularity sibling of `clean_repeated_passages`.  ONE
    higher-order filter over the token array: pure whole-stage-codegen
    projection, zero shuffle, zero Python (the `clean_c4_rules`
    family — the scan is the cost at 100 TB).  The oracle replays the
    first-of-run semantics relationally with a per-document lag
    window."""
    from .pipeline import ensure_parallelism
    from .pipeline.text import collapse_stutter

    e = engine_for(spark, sf_dir)
    docs = e.table("documents").filter(F.length(F.trim("text")) > 0)
    return collapse_stutter(ensure_parallelism(docs))


_GOPHER_ORACLE = """WITH d AS (
  SELECT doc_id, text,
         regexp_split_to_array(
           regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS words,
         string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(words, w -> length(w))) AS BIGINT) AS word_chars,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS hash_count,
         CAST(length(text) - length(replace(text, '...', '')) AS BIGINT) AS ell_chars,
         CAST(length(text) - length(replace(text, '…', '')) AS BIGINT) AS uni_ell,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines,
            l -> substr(trim(l), 1, 1) IN ('-', '*', '•'))) AS BIGINT) AS bullet_lines,
         CAST(len(list_filter(lines,
            l -> ends_with(trim(l), '...'))) AS BIGINT) AS ell_lines,
         CAST(len(list_filter(words,
            w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
         (CAST(list_contains(words, 'the') AS BIGINT)
          + CAST(list_contains(words, 'be') AS BIGINT)
          + CAST(list_contains(words, 'to') AS BIGINT)
          + CAST(list_contains(words, 'of') AS BIGINT)
          + CAST(list_contains(words, 'and') AS BIGINT)
          + CAST(list_contains(words, 'that') AS BIGINT)
          + CAST(list_contains(words, 'have') AS BIGINT)
          + CAST(list_contains(words, 'with') AS BIGINT)) AS stop_hits
  FROM d
)
SELECT doc_id, n_words,
       (n_words >= 50 AND n_words <= 100000) AS r_word_count,
       (3 * n_words <= word_chars AND word_chars <= 10 * n_words) AS r_mean_word_len,
       (10 * hash_count <= n_words) AS r_hash_ratio,
       (10 * (ell_chars + 3 * uni_ell) <= 3 * n_words) AS r_ellipsis_ratio,
       (10 * bullet_lines <= 9 * n_lines) AS r_bullet_lines,
       (10 * ell_lines <= 3 * n_lines) AS r_ellipsis_lines,
       (5 * alpha_words >= 4 * n_words) AS r_alpha_words,
       (stop_hits >= 2) AS r_stopwords,
       ((n_words >= 50 AND n_words <= 100000)
        AND (3 * n_words <= word_chars AND word_chars <= 10 * n_words)
        AND (10 * hash_count <= n_words)
        AND (10 * (ell_chars + 3 * uni_ell) <= 3 * n_words)
        AND (10 * bullet_lines <= 9 * n_lines)
        AND (10 * ell_lines <= 3 * n_lines)
        AND (5 * alpha_words >= 4 * n_words)
        AND (stop_hits >= 2)) AS keep_doc
FROM m"""


@query("quality_gopher_rules", _GOPHER_ORACLE)
def quality_gopher_rules(spark, sf_dir):
    """Gopher document-shape rules (Rae et al. 2021 App. A1.1;
    `pipeline/text.gopher_quality_flags`): per-rule booleans + combined
    keep flag.  Every ratio threshold is cross-multiplied into integer
    comparisons (10·bullet ≤ 9·lines, 5·alpha ≥ 4·words, …) so the
    value hash can never sit on a float rounding boundary, and the whole
    operator is one codegen'd projection — zero shuffle at 100 TB."""
    from .pipeline import ensure_parallelism
    from .pipeline.text import gopher_quality_flags

    e = engine_for(spark, sf_dir)
    return gopher_quality_flags(ensure_parallelism(e.table("documents")))


@query("stream_quality_gate", _GOPHER_ORACLE)
def stream_quality_gate(spark, sf_dir):
    """Quality gating at STREAMING ingest: the Gopher shape rules
    (`pipeline/text.gopher_quality_flags`) applied as a stateless
    projection inside `foreachBatch` — the production shape where
    rule-based cleaning runs on arrival, not as a batch sweep.  The
    snapshot half (even doc_ids) is flagged once batch-side; the other
    half arrives as two single-file parquet micro-batches
    (maxFilesPerTrigger=1) whose flags append to the same store.
    Because the gate is stateless, streamed + snapshot flags must
    reproduce the batch answer EXACTLY — the oracle is the batch Gopher
    SQL over the full corpus, byte-identical to `quality_gopher_rules`'s."""
    import os
    import uuid as _uuid

    from .pipeline.text import gopher_quality_flags

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    tag = _uuid.uuid4().hex[:8]
    store = os.path.join(e.warehouse, f"qgate_{tag}")
    src = os.path.join(e.warehouse, f"qgate_src_{tag}")
    ck = src + "_ck"

    gopher_quality_flags(docs.filter("doc_id % 2 = 0")).write.mode(
        "append"
    ).parquet(store)
    docs.filter("doc_id % 4 = 1").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id % 4 = 3").coalesce(1).write.mode("append").parquet(src)

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def gate(batch, _bid):
        gopher_quality_flags(batch).write.mode("append").parquet(store)

    q = (
        sdf.writeStream.foreachBatch(gate)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        q.stop()
        flagged = spark.read.parquet(store)
        rows = flagged.collect()
        schema = flagged.schema
    finally:
        import shutil

        q.stop()
        # the flags are fully collected; drop the throwaway store, source
        # and checkpoint dirs so repeated bench/correctness runs don't
        # accumulate garbage in the warehouse (ADVICE r7; matches the
        # wmdedup cleanup pattern above)
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@query(
    "corpus_heaps_law",
    """WITH b AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
tok AS (
  SELECT CAST(floor(CAST(doc_id * 10 AS DOUBLE) / CAST(n_ids AS DOUBLE)) AS BIGINT) AS bucket,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents, b WHERE length(trim(text)) > 0
), fs AS (SELECT token, min(bucket) AS fb FROM tok GROUP BY 1
), nv AS (SELECT fb, count(*) AS new_vocab FROM fs GROUP BY 1
), pb AS (SELECT bucket, count(*) AS n_tokens FROM tok GROUP BY 1)
SELECT pb.bucket,
       CAST(sum(pb.n_tokens) OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_tokens,
       CAST(sum(coalesce(nv.new_vocab, 0)) OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_vocab
FROM pb LEFT JOIN nv ON pb.bucket = nv.fb""",
)
def corpus_heaps_law(spark, sf_dir):
    """Vocabulary-growth (Heaps' law) curve over 10 contiguous doc-id
    prefixes (`pipeline/text.heaps_curve`): cumulative tokens vs
    cumulative distinct vocabulary at each boundary — "how much new
    vocabulary does more data buy".  Scale shape: NOT n_buckets
    corpus-sized distincts; each token's first bucket is ONE
    combiner-friendly groupBy(token).min, the rollup window runs over 10
    rows.  All integers — exact at any scale."""
    from .pipeline.text import heaps_curve

    e = engine_for(spark, sf_dir)
    # no ensure_parallelism (r11): heaps is a DIAMOND plan (vocabulary
    # branch + token-count branch + bounds), and the round-robin input
    # repartition is re-evaluated per branch with no exchange reuse —
    # measured 1.04 -> 0.62 s without it; per-row work here is a cheap
    # split/explode, not the Pandas-UDF shape the wrapper exists for
    return heaps_curve(e.table("documents"), n_buckets=10)


@query(
    "corpus_zipf_slope",
    """WITH tc AS (
  SELECT token, count(*) AS cnt
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
        FROM documents WHERE length(trim(text)) > 0)
  GROUP BY 1
), top AS (
  SELECT token, cnt FROM tc ORDER BY cnt DESC, token LIMIT 1000
), r AS (
  SELECT cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rnk
  FROM top
), q AS (
  SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS x,
         CAST(floor(ln(CAST(cnt AS DOUBLE)) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS y
  FROM r
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM q
)
SELECT n AS n_top,
       CASE WHEN n > 1 THEN
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       END AS slope,
       CASE WHEN n > 1 THEN
         (CAST(sy AS DOUBLE)
          - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
            * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE)
       END AS intercept_micronats
FROM m""",
)
def corpus_zipf_slope(spark, sf_dir):
    """Zipf's-law corpus diagnostic (`pipeline/text.zipf_slope`): log-log
    rank/frequency regression slope over the top-1000 tokens — ≈ −1 for
    natural language, deviations flag synthetic/boilerplate corpora.
    One combiner groupBy(token) + TakeOrderedAndProject top-k; ln values
    quantize to integer micronats by spec, the five regression moments
    are exact BIGINT sums (Σxy < 2^61 at any corpus size with the
    top-1000 cap), and slope/intercept are one fixed IEEE expression
    over those integers."""
    from .pipeline.text import zipf_slope

    e = engine_for(spark, sf_dir)
    # no ensure_parallelism (r11): same diamond-plan argument as
    # corpus_heaps_law — measured 0.53 -> 0.37 s without it
    return zipf_slope(e.table("documents"), top_n=1000)


# Shared DSIR scoring CTEs (target LM on the English slice, raw LM on
# the whole corpus, per-bigram integer-micronat weight stream q) --
# the prefix both selection oracles build on.
_DSIR_SCORE_CTES = """tt AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE lang = 'en' AND length(trim(text)) > 0
), tbig AS (
  SELECT t[i] AS c, t[i+1] AS w
  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
        FROM tt WHERE len(t) >= 2)
), tbc AS (SELECT c, w, count(*) AS cwt FROM tbig GROUP BY 1, 2
), tcc AS (SELECT c, count(*) AS cct FROM tbig GROUP BY 1
), tv AS (
  SELECT CAST(count(DISTINCT tok) + 1 AS BIGINT) AS vt
  FROM (SELECT unnest(t) AS tok FROM tt)
), rt AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), rbig AS (
  SELECT t[i] AS c, t[i+1] AS w
  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
        FROM rt WHERE len(t) >= 2)
), rbc AS (SELECT c, w, count(*) AS cwr FROM rbig GROUP BY 1, 2
), rcc AS (SELECT c, count(*) AS ccr FROM rbig GROUP BY 1
), rv AS (
  SELECT CAST(count(DISTINCT tok) + 1 AS BIGINT) AS vr
  FROM (SELECT unnest(t) AS tok FROM rt)
), st AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), sb AS (
  SELECT doc_id, t[i] AS c, t[i+1] AS w
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        FROM st WHERE len(t) >= 2)
), scored AS (
  SELECT sb.doc_id,
         CASE WHEN tcc.cct IS NULL
              THEN CAST(1 AS DOUBLE) / CAST(tv.vt AS DOUBLE)
              ELSE CAST(coalesce(tbc.cwt, 0) + 1 AS DOUBLE)
                   / CAST(tcc.cct + tv.vt AS DOUBLE)
         END AS pt,
         CASE WHEN rcc.ccr IS NULL
              THEN CAST(1 AS DOUBLE) / CAST(rv.vr AS DOUBLE)
              ELSE CAST(coalesce(rbc.cwr, 0) + 1 AS DOUBLE)
                   / CAST(rcc.ccr + rv.vr AS DOUBLE)
         END AS pr
  FROM sb LEFT JOIN tbc USING (c, w) LEFT JOIN tcc USING (c)
          LEFT JOIN rbc USING (c, w) LEFT JOIN rcc USING (c)
          CROSS JOIN tv CROSS JOIN rv
), q AS (
  SELECT doc_id,
         CAST(floor(ln(pt) * CAST(1000000 AS DOUBLE)) AS BIGINT)
         - CAST(floor(ln(pr) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS lw
  FROM scored
)"""


@query(
    "select_dsir_topn",
    f"""WITH {_DSIR_SCORE_CTES}
SELECT doc_id, count(*) AS n_bigrams,
       CAST(sum(lw) AS BIGINT) AS logw_micronats
FROM q GROUP BY doc_id
ORDER BY logw_micronats DESC, doc_id LIMIT 100""",
)
def select_dsir_topn(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023; `pipeline/lm.dsir_log_weights`):
    train a target bigram LM on the English slice and a raw LM on the
    whole corpus, weight every document by the integer-micronat
    ``log p_target − log p_raw``, and select the top 100 — importance
    resampling toward a target domain, the post-rule-filter selection
    step of a modern pretraining pipeline.  Both LM trainings, the
    four-way scoring join, and the exact integer weight sum replay in
    the oracle; selection is TakeOrderedAndProject (never a global
    sort)."""
    from .pipeline.lm import dsir_log_weights, train_bigram_lm

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    target_lm = train_bigram_lm(docs.filter(F.col("lang") == "en"))
    raw_lm = train_bigram_lm(docs)
    w = dsir_log_weights(docs, target_lm, raw_lm)
    return w.orderBy(
        F.col("logw_micronats").desc(), F.col("doc_id").asc()
    ).limit(100)


@query(
    "select_dsir_gumbel",
    f"""WITH {_DSIR_SCORE_CTES},
wts AS (
  SELECT doc_id, count(*) AS n_bigrams,
         CAST(sum(lw) AS BIGINT) AS logw_micronats
  FROM q GROUP BY doc_id
)
SELECT doc_id, n_bigrams, logw_micronats,
       logw_micronats + CAST(floor(
         -ln(-ln((CAST(('0x' || substring(md5('gmb:dsir:'
             || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE)
           + 0.5) / 4503599627370496.0))
         * CAST(1000000 AS DOUBLE)) AS BIGINT) AS key_micronats
FROM wts
ORDER BY key_micronats DESC, doc_id LIMIT 100""",
)
def select_dsir_gumbel(spark, sf_dir):
    """SAMPLED DSIR selection (`pipeline/lm.gumbel_topk_select` —
    VERDICT r8 ask #5: the Gumbel-top-k variant `dsir_log_weights`'
    docstring names, shipped): the same integer-micronat importance
    weights as `select_dsir_topn`, perturbed per document by a SEEDED
    Gumbel sample — u from the deterministic 52-bit md5 hash family,
    g = −ln(−ln u) quantized to micronats — and the top 100 perturbed
    keys kept.  By Kool et al. 2019 this IS sampling 100 documents
    without replacement ∝ softmax(weights), yet every draw is
    replayable: the oracle recomputes hash, Gumbel, and integer key
    bit for bit.  Selection stays TakeOrderedAndProject."""
    from .pipeline.lm import (
        dsir_log_weights,
        gumbel_topk_select,
        train_bigram_lm,
    )

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    target_lm = train_bigram_lm(docs.filter(F.col("lang") == "en"))
    raw_lm = train_bigram_lm(docs)
    w = dsir_log_weights(docs, target_lm, raw_lm)
    return gumbel_topk_select(w, k=100, seed="dsir")


@query(
    "stream_dsir_select",
    """WITH tt AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
  WHERE doc_id % 2 = 0 AND lang = 'en' AND length(trim(text)) > 0
), tbig AS (
  SELECT t[i] AS c, t[i+1] AS w
  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
        FROM tt WHERE len(t) >= 2)
), tbc AS (SELECT c, w, count(*) AS cwt FROM tbig GROUP BY 1, 2
), tcc AS (SELECT c, count(*) AS cct FROM tbig GROUP BY 1
), tv AS (
  SELECT CAST(count(DISTINCT tok) + 1 AS BIGINT) AS vt
  FROM (SELECT unnest(t) AS tok FROM tt)
), rt AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE doc_id % 2 = 0 AND length(trim(text)) > 0
), rbig AS (
  SELECT t[i] AS c, t[i+1] AS w
  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS i
        FROM rt WHERE len(t) >= 2)
), rbc AS (SELECT c, w, count(*) AS cwr FROM rbig GROUP BY 1, 2
), rcc AS (SELECT c, count(*) AS ccr FROM rbig GROUP BY 1
), rv AS (
  SELECT CAST(count(DISTINCT tok) + 1 AS BIGINT) AS vr
  FROM (SELECT unnest(t) AS tok FROM rt)
), st AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), sb AS (
  SELECT doc_id, t[i] AS c, t[i+1] AS w
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        FROM st WHERE len(t) >= 2)
), scored AS (
  SELECT sb.doc_id,
         CASE WHEN tcc.cct IS NULL
              THEN CAST(1 AS DOUBLE) / CAST(tv.vt AS DOUBLE)
              ELSE CAST(coalesce(tbc.cwt, 0) + 1 AS DOUBLE)
                   / CAST(tcc.cct + tv.vt AS DOUBLE)
         END AS pt,
         CASE WHEN rcc.ccr IS NULL
              THEN CAST(1 AS DOUBLE) / CAST(rv.vr AS DOUBLE)
              ELSE CAST(coalesce(rbc.cwr, 0) + 1 AS DOUBLE)
                   / CAST(rcc.ccr + rv.vr AS DOUBLE)
         END AS pr
  FROM sb LEFT JOIN tbc USING (c, w) LEFT JOIN tcc USING (c)
          LEFT JOIN rbc USING (c, w) LEFT JOIN rcc USING (c)
          CROSS JOIN tv CROSS JOIN rv
), q AS (
  SELECT doc_id,
         CAST(floor(ln(pt) * CAST(1000000 AS DOUBLE)) AS BIGINT)
         - CAST(floor(ln(pr) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS lw
  FROM scored
)
SELECT doc_id, count(*) AS n_bigrams,
       CAST(sum(lw) AS BIGINT) AS logw_micronats
FROM q GROUP BY doc_id""",
)
def stream_dsir_select(spark, sf_dir):
    """DSIR data selection at STREAMING ingest (VERDICT r7 ask #8 — the
    `stream_quality_gate` pattern applied to model-based selection):
    both bigram LMs are trained ONCE on the even-doc snapshot and
    FROZEN (localCheckpoint — train-then-freeze is the production
    shape: the model must not drift as batches arrive), the snapshot is
    scored batch-side, and the odd half arrives as two single-file
    parquet micro-batches whose documents are scored inside
    `foreachBatch` against the frozen broadcast LM lookups.  Scoring is
    stateless given the frozen model, so streamed + snapshot scores
    must reproduce the pure-batch answer EXACTLY — the oracle trains
    both LMs on the snapshot slice in SQL and scores the full corpus,
    and the integer-micronat weights value-hash."""
    import os
    import uuid as _uuid

    from .pipeline.lm import BigramLM, dsir_log_weights, train_bigram_lm

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    snap = docs.filter("doc_id % 2 = 0")

    def freeze(lm: BigramLM) -> BigramLM:
        return BigramLM(
            bigram_counts=lm.bigram_counts.localCheckpoint(eager=True),
            context_counts=lm.context_counts.localCheckpoint(eager=True),
            vocab=lm.vocab.localCheckpoint(eager=True),
        )

    t_lm = freeze(train_bigram_lm(snap.filter("lang = 'en'")))
    r_lm = freeze(train_bigram_lm(snap))

    tag = _uuid.uuid4().hex[:8]
    store = os.path.join(e.warehouse, f"dsirsel_{tag}")
    src = os.path.join(e.warehouse, f"dsirsel_src_{tag}")
    ck = src + "_ck"

    dsir_log_weights(snap, t_lm, r_lm, broadcast_lm=True).write.mode(
        "append"
    ).parquet(store)
    docs.filter("doc_id % 4 = 1").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id % 4 = 3").coalesce(1).write.mode("append").parquet(src)

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def select_batch(batch, _bid):
        dsir_log_weights(batch, t_lm, r_lm, broadcast_lm=True).write.mode(
            "append"
        ).parquet(store)

    q = (
        sdf.writeStream.foreachBatch(select_batch)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        q.stop()
        out = spark.read.parquet(store)
        rows = out.collect()
        schema = out.schema
    finally:
        import shutil

        q.stop()
        # scores are fully collected; drop the throwaway store/source/
        # checkpoint dirs (the wmdedup/qgate cleanup pattern)
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _wp_stream_oracle(k: int = _WP_MERGES, mod: int = 11) -> str:
    """Streaming tokenize-at-ingest replay: the shared MaxMatch chain
    (train on the even-doc snapshot, segment the FULL corpus's distinct
    words) + lexicographic token ids over vocabulary ∪ {[UNK]} + the
    per-document position densification of the BPE/unigram encode
    oracles, output-bounded to a 1-in-``mod`` document sample."""
    return f"""WITH RECURSIVE {_wp_maxmatch_ctes(k)},
wvid AS (
  SELECT token,
         CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
  FROM (SELECT token FROM wv UNION SELECT '[UNK]' AS token)
), wdw AS (
  SELECT doc_id, j.j AS wpos, t.w[j.j] AS word
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents WHERE doc_id % {mod} = 0) t
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(t.w))) AS j) j
  WHERE t.w[j.j] <> ''
), wds AS (
  SELECT u.doc_id, u.wpos, j2.j2 AS spos, u.s[j2.j2] AS token
  FROM (SELECT wdw.doc_id, wdw.wpos, str_split(wseg.sym, ' ') AS s
        FROM wdw JOIN wseg USING (word)) u
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(u.s))) AS j2) j2
)
SELECT wds.doc_id,
       CAST(row_number() OVER (PARTITION BY wds.doc_id
                               ORDER BY wds.wpos, wds.spos) - 1
            AS BIGINT) AS pos,
       wds.token, wvid.token_id
FROM wds JOIN wvid USING (token)"""


@query("stream_wordpiece_ingest", _wp_stream_oracle(_WP_MERGES))
def stream_wordpiece_ingest(spark, sf_dir):
    """WordPiece tokenization at STREAMING ingest — the most common
    pretraining ingestion step of all (tokenize on arrival), completing
    the ingest story next to `stream_quality_gate` (rules),
    `stream_dsir_select` (selection), and `stream_lm_ingest` (LM
    deltas): the vocabulary is trained ONCE on the even-doc snapshot
    and FROZEN (the merge table is a driver literal; the id table is
    localCheckpoint'ed), the snapshot is encoded batch-side, and the
    odd half arrives as two single-file parquet micro-batches encoded
    inside `foreachBatch` — per batch, MaxMatch segments the batch's
    DISTINCT words against the frozen broadcast vocabulary and
    `bpe_encode` (tokenizer-agnostic) densifies per-document positions.
    Word segmentation depends only on the frozen vocabulary, never on
    batch composition, so streamed + snapshot output must reproduce the
    pure-batch answer EXACTLY; output is bounded to a 1-in-11 document
    sample (the plan is corpus-wide, the unigram_encode_ids rationale).
    The oracle replays training, the MaxMatch walk, ids, and position
    densification."""
    import os
    import shutil
    import uuid as _uuid

    from pyspark.sql import Window

    from .pipeline.bpe import bpe_encode
    from .pipeline.wordpiece import (
        maxmatch_encode,
        wordpiece_train,
        wordpiece_vocab,
        wordpiece_word_table,
    )

    e = engine_for(spark, sf_dir)
    docs = e.table("documents")
    snap = docs.filter("doc_id % 2 = 0")

    merges, words = wordpiece_train(snap, n_merges=_WP_MERGES)
    # MATCH vocabulary: trained pieces only — [UNK] is an OUTPUT of
    # MaxMatch failure, never a matchable piece (a corpus word spelled
    # "[UNK]..." must segment through its characters; letting the
    # 5-char sentinel match would diverge from the oracle's wv and
    # from BERT semantics).  The ID table adds [UNK] so failed words'
    # tokens still resolve to an id.
    vocab_tokens = wordpiece_vocab(words, merges).localCheckpoint(eager=True)
    unk = spark.createDataFrame([("[UNK]",)], "token string")
    vocab_ids = (
        vocab_tokens.unionByName(unk)
        .distinct()
        .select(
            "token",
            (F.row_number().over(Window.orderBy("token")) - 1)
            .cast("long")
            .alias("token_id"),
        )
        .localCheckpoint(eager=True)  # frozen: id table must not drift
    )

    def encode_batch(batch):
        seg = maxmatch_encode(
            wordpiece_word_table(batch).select("word", "freq"), vocab_tokens,
            check_reachability=False,  # pinned 10-char cap (entry spec);
            # also avoids a per-micro-batch agg job against a FROZEN vocab
        )
        return bpe_encode(batch.filter("doc_id % 11 = 0"), seg, vocab_ids)

    tag = _uuid.uuid4().hex[:8]
    store = os.path.join(e.warehouse, f"wping_{tag}")
    src = os.path.join(e.warehouse, f"wping_src_{tag}")
    ck = src + "_ck"

    encode_batch(snap).write.mode("append").parquet(store)
    docs.filter("doc_id % 4 = 1").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id % 4 = 3").coalesce(1).write.mode("append").parquet(src)

    sdf = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def sink_batch(batch, _bid):
        encode_batch(batch).write.mode("append").parquet(store)

    q = (
        sdf.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        q.stop()
        out = spark.read.parquet(store)
        rows = out.collect()
        schema = out.schema
    finally:
        q.stop()
        # rows are fully collected; drop the throwaway store/source/
        # checkpoint dirs (the wmdedup/qgate/dsirsel cleanup pattern)
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


_RRF_ORACLE = """WITH tok AS (
  SELECT doc_id, len(t) AS dl, unnest(t) AS term
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents WHERE length(trim(text)) > 0)
), stats AS (
  SELECT count(DISTINCT doc_id) AS n_docs, count(*) AS sum_dl FROM tok
), tf AS (
  SELECT doc_id, term, dl, count(*) AS tf
  FROM tok WHERE term IN ('hash', 'stream', 'vector')
  GROUP BY 1, 2, 3
), dft AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1
), j AS (
  SELECT tf.doc_id,
         (CAST(CAST(floor(ln(CAST(1 AS DOUBLE)
             + (CAST(stats.n_docs - dft.dft AS DOUBLE) + CAST(0.5 AS DOUBLE))
               / (CAST(dft.dft AS DOUBLE) + CAST(0.5 AS DOUBLE)))
             * CAST(1000000 AS DOUBLE)) AS BIGINT) AS DOUBLE)
           / CAST(1000000 AS DOUBLE))
         * ((CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE)))
            / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
               * (CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                  + CAST(0.75 AS DOUBLE) * (CAST(tf.dl AS DOUBLE)
                    / (CAST(stats.sum_dl AS DOUBLE)
                       / CAST(stats.n_docs AS DOUBLE))))))
         AS ts
  FROM tf JOIN dft USING (term) CROSS JOIN stats
), bm AS (
  SELECT doc_id, CAST(sum(CAST(ts AS DECIMAL(38,14))) AS DOUBLE) AS score
  FROM j GROUP BY doc_id
), lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
  FROM (SELECT * FROM bm ORDER BY score DESC, doc_id LIMIT 50)
), v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), q AS (
  SELECT e AS qe FROM v WHERE vec_id = 0
), s AS (
  SELECT v.vec_id,
         list_reduce([v.e[i] * q.qe[i] for i in generate_series(1, 64)],
                     (a, x) -> a + x)
         / (sqrt(list_reduce([v.e[i] * v.e[i] for i in generate_series(1, 64)],
                             (a, x) -> a + x))
            * sqrt(list_reduce([q.qe[i] * q.qe[i] for i in generate_series(1, 64)],
                               (a, x) -> a + x))) AS cosine
  FROM v, q WHERE v.vec_id <> 0
), sem AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) AS sem_rank
  FROM (SELECT * FROM s ORDER BY cosine DESC, vec_id LIMIT 50)
), fused AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         lex.lex_rank, sem.sem_rank,
         coalesce(CAST(1 AS DOUBLE)
                  / (CAST(60 AS DOUBLE) + CAST(lex.lex_rank AS DOUBLE)),
                  CAST(0 AS DOUBLE))
         + coalesce(CAST(1 AS DOUBLE)
                    / (CAST(60 AS DOUBLE) + CAST(sem.sem_rank AS DOUBLE)),
                    CAST(0 AS DOUBLE)) AS rrf_score
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 15"""


@query("rank_rrf_fusion", _RRF_ORACLE)
def rank_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009) of
    the BM25 lexical ranking and the exact-cosine semantic ranking
    (`pipeline/retrieval.rrf_fusion_topk`) — the standard RAG-curation
    combiner next to `rank_bm25_topk` and `sim_cosine_topk`.  Each list
    is cut to depth 50 by TakeOrderedAndProject (distributed partial
    top-k); ranks come from a window over the depth-sized slice (O(depth),
    never O(corpus)); the fusion joins two 50-row sets.  Fused score =
    1/(60+lex_rank) + 1/(60+sem_rank), a fixed-order sum of exact
    divisions — bit-identical across engines."""
    from .pipeline.retrieval import rrf_fusion_topk

    e = engine_for(spark, sf_dir)
    emb = e.table("embeddings")
    # query vector as a 1-row broadcast (r11): no eager .first() job
    return rrf_fusion_topk(
        e.table("documents"),
        emb.filter(F.col("vec_id") != 0),
        ["vector", "hash", "stream"],
        k=15,
        depth=50,
        query_vec_df=emb.filter(F.col("vec_id") == 0),
    )


# ---------------------------------------------------------------------
# Driver presentation order.  The correctness driver oracles the FIRST 50
# entries of queries() (insertion order), so the window below interleaves
# one-or-more representatives of EVERY operator family — dialect, TPC-H,
# dedup, similarity, text, stats, multimodal, source formats, streaming,
# PROCESS — rather than the file's thematic definition order.  Entries not
# listed follow in registration order (they keep local pytest + fuzz
# coverage and rotate into the window in later rounds).
# ---------------------------------------------------------------------

# WINDOW POLICY (the rule, not just this round's instance — VERDICT r9
# ask #8; tests/test_driver_window.py asserts it against the committed
# CORRECTNESS_r*.json history so a violation fails the suite):
#   1. The three family sentinels below are window-listed EVERY round
#      (dialect custom-group-function, TPC-H multiway join/anti-join,
#      PROCESS STREAM — one canary per execution family).
#   2. Every entry with < 2 cumulative green driver rounds comes next —
#      zero-round entries first (newly landed operators join the window
#      in their LANDING commit; no backlog), then single-round entries.
#   3. Remaining slots rotate the oldest evidence back in: entries
#      sorted by last-green round ascending (ties alphabetical), so no
#      entry's newest driver row can age out indefinitely.
# Regenerate with:  python tools/driver_window.py  (prints the list this
# policy produces from the current CORRECTNESS history).
_DRIVER_WINDOW = [
    # r11 rotation: 3 sentinels + stream_kn_ingest (new this round,
    # window-listed in its landing commit per the no-backlog rule) +
    # the 3 single-round entries (first driver rows landed in r10) +
    # the 43 oldest-evidence entries (last green in r2) = exactly 50.
    "dialect_custom_group_function",
    "q21_waiting_suppliers",
    "process_stream_consume",
    "stream_kn_ingest",
    "corpus_curation_funnel_v3",
    "quality_kneser_ney_trigram",
    "stream_byte_bpe_ingest",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "range_join_value_bands",
    "rollup_hourly_events",
    "rollup_pricing_subtotals",
    "sample_deterministic_10pct",
    "sketch_cms_heavy_tokens",
    "sketch_kmv_distinct_users",
    "topk_per_group",
    "approx_quantile_sketch",
    "corpus_curation_funnel",
    "corpus_divergence_by_lang",
    "data_quality_report",
    "decontaminate_ngrams",
    "dedup_clusters",
    "dedup_embedding_neardup",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dialect_count_distinct",
    "dialect_is_null",
    "event_funnel_conversion",
    "events_agg_by_type",
    "export_shuffled_shards",
    "graph_pagerank_copurchase",
    "incremental_rollup_distinct_users",
    "json_extract_props",
    "kanonymity_audit",
    "lang_id",
    "mm_jpeg_dedup",
    "mm_resize",
    "mm_video_frames",
    "pii_redact",
    "process_within_consume",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "sessionize_users",
    "sim_cosine_topk",
    "sim_lsh_multiprobe",
    "sim_quantized_topk",
]



def _presentation_order() -> list[str]:
    rest = [n for n in QUERIES if n not in _DRIVER_WINDOW]
    missing = [n for n in _DRIVER_WINDOW if n not in QUERIES]
    assert not missing, f"_DRIVER_WINDOW names unknown queries: {missing}"
    assert len(set(_DRIVER_WINDOW)) == len(_DRIVER_WINDOW), (
        "_DRIVER_WINDOW has duplicates — a dup silently shrinks the "
        "gated set below 50"
    )
    return list(_DRIVER_WINDOW) + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: QUERIES[n] for n in _presentation_order()}


def oracle_sql() -> dict[str, str]:
    return {n: ORACLES[n] for n in _presentation_order() if n in ORACLES}
