"""Query catalog: one entry per implemented SURVEY.md §2 construct.

Each ``@query(name, oracle=...)`` registers a (spark, sf_dir) -> DataFrame
callable plus (where SQL-expressible) a DuckDB oracle that must hash-match.

Float-determinism policy (oracle comparison is a value hash):
- Sums are accumulated in DECIMAL (exact, order-independent) then cast to
  double: identical bits in Spark and DuckDB regardless of partitioning.
- Averages = decimal-sum cast double / count (single IEEE division).
- Per-row double products are deterministic (same IEEE ops both engines).
- Cosine similarities are rounded to 4 digits *before* ranking so top-k
  membership is stable across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .functions import ch
from .operators import (
    any_join, array_join, asof_join, distinct_on, final, limit_by,
    limit_with_ties, sample_by_key, with_fill, with_totals,
)
from .pipeline import (
    brute_force_topk, cosine_near_dup_pairs, lsh_bucketed_topk,
    lsh_near_dup_pairs, minhash_lsh_candidates,
    ngram_jaccard_exact_pairs, ngram_jaccard_pairs, simhash_near_dups,
)
from .pipeline.multimodal import attach_binary_payload, decode_image_batch
from .pipeline.text import (
    LANG_MARKERS, doc_fingerprint, language_id, quality_score,
    token_count, token_count_bpe,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


# Checked invariants for queries that are honestly non-deterministic or
# approximate (no value-exact SQL oracle possible): name →
# (description, fn(spark_result_pdf, duckdb_con) -> problem | None).
# tools/check_oracle.py runs these for no-oracle rows; tests/ pin them.
INVARIANTS: dict[str, tuple] = {}


def invariant(name: str, desc: str):
    def deco(fn):
        INVARIANTS[name] = (desc, fn)
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _v(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Dir-scoped temp-view name for one-shot spark.sql builds
    (catalog.table_view; registration memoized per session+dir)."""
    from .catalog import table_view
    return table_view(spark, sf_dir, name)


def dsum(col: Column, scale: int = 4) -> Column:
    """Order-independent exact sum → double (see module docstring)."""
    return F.sum(col.cast(f"decimal(27,{scale})")).cast("double")


def davg(col: Column, scale: int = 4) -> Column:
    return dsum(col, scale) / F.count(col)


# ---------------------------------------------------------------------------
# TPC-H-shaped core (scan → filter → agg → join → sort → limit)
# ---------------------------------------------------------------------------

@query("q1_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(27,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(27,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q1(spark, sf_dir):
    """TPC-H Q1 shape — the reference's M1 slice (SURVEY.md §7).

    Built as ONE spark.sql over the dir-scoped table view: a single
    parse + analyzer fixed-point instead of eager re-analysis per
    DataFrame step (r13 guide §1.2; plan and results identical —
    plans/r13/q1_pricing_summary_after.txt)."""
    li = _v(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(27,6))) AS DOUBLE) AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(27,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
               COUNT(1) AS count_order
        FROM {li}
        WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus""")


@query("q3_shipping_priority", oracle="""
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
  AND CAST(l_shipdate AS DATE) > DATE '1997-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""")
def q3(spark, sf_dir):
    """Join + agg + top-k. Customer is left UNHINTED: it grows with SF
    (a forced broadcast could exceed executor memory at 100×), and AQE
    picks broadcast-hash at runtime whenever the filtered side fits —
    the better-of-both at any scale. One-shot spark.sql build (r13
    guide §1.2; plan and results identical)."""
    li = _v(spark, sf_dir, "lineitem")
    orders = _v(spark, sf_dir, "orders")
    cust = _v(spark, sf_dir, "customer")
    return spark.sql(f"""
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
               date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate
        FROM {li}
        JOIN {orders} ON l_orderkey = o_orderkey
        JOIN {cust} ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
          AND CAST(l_shipdate AS DATE) > DATE '1997-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10""")


@query("q5_local_supplier", oracle="""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
     JOIN lineitem ON l_orderkey = o_orderkey
     JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
     JOIN nation ON s_nationkey = n_nationkey
     JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
GROUP BY n_name
""")
def q5(spark, sf_dir):
    """Six-way join, one fact shuffle. nation/region broadcast by hint
    (fixed-size: 25/5 rows at ANY scale factor); customer/supplier grow
    with SF, so they stay unhinted and AQE chooses broadcast vs shuffle
    from their runtime size. One-shot spark.sql build (r13 guide §1.2;
    plan and results identical)."""
    li = _v(spark, sf_dir, "lineitem")
    orders = _v(spark, sf_dir, "orders")
    cust = _v(spark, sf_dir, "customer")
    supp = _v(spark, sf_dir, "supplier")
    nat = _v(spark, sf_dir, "nation")
    reg = _v(spark, sf_dir, "region")
    return spark.sql(f"""
        SELECT /*+ BROADCAST(n, r) */ n_name,
               CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,6))) AS DOUBLE) AS revenue
        FROM {li}
        JOIN {orders} ON l_orderkey = o_orderkey
        JOIN {cust} ON o_custkey = c_custkey
        JOIN {supp} ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN {nat} n ON s_nationkey = n_nationkey
        JOIN {reg} r ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        GROUP BY n_name""")


# ---------------------------------------------------------------------------
# Join kinds (SURVEY §2.4)
# ---------------------------------------------------------------------------

@query("join_left_outer", oracle="""
SELECT n_nationkey, n_name, COUNT(s_suppkey) AS n_suppliers
FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
GROUP BY n_nationkey, n_name
""")
def join_left(spark, sf_dir):
    nat = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    return (nat.join(supp, supp.s_nationkey == nat.n_nationkey, "left")
               .groupBy("n_nationkey", "n_name")
               .agg(F.count("s_suppkey").alias("n_suppliers")))


@query("join_full_outer", oracle="""
WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
     s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
SELECT COALESCE(c.nk, s.nk) AS nk, n_cust, n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
""")
def join_full(spark, sf_dir):
    cust = (_t(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("nk"))
            .agg(F.count(F.lit(1)).alias("n_cust")))
    supp = (_t(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("nk"))
            .agg(F.count(F.lit(1)).alias("n_supp")))
    return (cust.join(supp, "nk", "full")
                .select(F.col("nk"), "n_cust", "n_supp"))


@query("join_semi", oracle="""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
""")
def join_semi(spark, sf_dir):
    """LEFT SEMI — the lowering of IN/EXISTS subqueries (§2.3)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
                .select("c_custkey", "c_name"))


@query("join_anti", oracle="""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""")
def join_anti(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
                .select("c_custkey", "c_name"))


@query("join_cross", oracle="""
SELECT r_name, n_name FROM region CROSS JOIN nation
""")
def join_cross(spark, sf_dir):
    return (_t(spark, sf_dir, "region").crossJoin(_t(spark, sf_dir, "nation"))
            .select("r_name", "n_name"))


@query("join_any_left", oracle="""
SELECT o_orderkey, o_orderstatus, l_linenumber, l_quantity
FROM orders LEFT JOIN (
  SELECT * FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
                              ORDER BY l_linenumber, l_quantity) AS rn
    FROM lineitem) WHERE rn = 1
) ON l_orderkey = o_orderkey
""")
def join_any(spark, sf_dir):
    """ANY LEFT JOIN — at most one right match (ASTTablesInSelectQuery.h:79).

    (l_orderkey, l_linenumber) is not unique in the synthetic data, so the
    deterministic ANY pick tie-breaks on quantity too."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_quantity")
    return any_join(orders, li, on=["o_orderkey"],
                    right_order=[F.col("l_linenumber"), F.col("l_quantity")])


@query("join_asof", oracle="""
SELECT p.event_id, p.user_id, s.event_id AS signup_event_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
ON p.user_id = s.user_id AND p.ts >= s.ts
""")
def join_asof_q(spark, sf_dir):
    """ASOF JOIN: latest signup at-or-before each purchase, per user."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase") \
                  .select("user_id", "ts", "event_id")
    signups = ev.filter(F.col("event_type") == "signup") \
                .select("user_id", "ts",
                        F.col("event_id").alias("signup_event_id"))
    out = asof_join(purchases, signups, on=["user_id"],
                    left_time="ts", right_time="ts")
    return out.select("event_id", "user_id", "signup_event_id")


# ---------------------------------------------------------------------------
# ARRAY JOIN (§2.4) + text tokens
# ---------------------------------------------------------------------------

@query("array_join_words", oracle="""
WITH words AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents)
SELECT word, COUNT(*) AS cnt FROM words
WHERE length(word) > 4
GROUP BY word ORDER BY cnt DESC, word LIMIT 20
""")
def array_join_words(spark, sf_dir):
    """ARRAY JOIN arr — explode() lowering (ASTTablesInSelectQuery.h:126)."""
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                     lambda w: w != "")
    exploded = array_join(docs.select(words.alias("words")), {"word": "words"})
    return (exploded.filter(F.length("word") > 4)
            .groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("word")).limit(20))


@query("left_array_join", oracle="""
SELECT d.doc_id, w.word
FROM documents d LEFT JOIN (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> length(x) > 8)) AS word
  FROM documents) w ON d.doc_id = w.doc_id
""")
def left_array_join_q(spark, sf_dir):
    """LEFT ARRAY JOIN — explode_outer keeps empty-array rows."""
    docs = _t(spark, sf_dir, "documents")
    long_words = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                          lambda w: F.length(w) > 8)
    out = array_join(docs.select("doc_id", long_words.alias("lw")),
                     {"word": "lw"}, left=True)
    return out.select("doc_id", "word")


# ---------------------------------------------------------------------------
# DISTINCT / LIMIT BY / WITH TIES (§2.5, §2.7)
# ---------------------------------------------------------------------------

@query("distinct_rows", oracle="""
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
""")
def distinct_rows(spark, sf_dir):
    return _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@query("distinct_on_latest_order", oracle="""
SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
WHERE rn = 1
""")
def distinct_on_q(spark, sf_dir):
    """DISTINCT ON → LIMIT 1 BY rewrite (ParserSelectQuery.cpp:363-372)."""
    orders = _t(spark, sf_dir, "orders")
    out = distinct_on(orders, ["o_custkey"],
                      [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()])
    return out.select("o_custkey", "o_orderkey",
                      F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))


@query("limit_by_priority", oracle="""
SELECT o_orderpriority, o_orderkey, o_totalprice
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
WHERE rn <= 2
""")
def limit_by_q(spark, sf_dir):
    """LIMIT 2 BY o_orderpriority (ParserSelectQuery.cpp:281-299)."""
    orders = _t(spark, sf_dir, "orders")
    out = limit_by(orders, ["o_orderpriority"],
                   [F.col("o_totalprice").desc(), F.col("o_orderkey")], n=2)
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice")


@query("limit_with_ties", oracle="""
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
QUALIFY RANK() OVER (ORDER BY l_quantity) <= 20
""")
def with_ties_q(spark, sf_dir):
    """LIMIT 20 WITH TIES (ParserSelectQuery.cpp:261-276)."""
    li = _t(spark, sf_dir, "lineitem")
    out = limit_with_ties(li, [F.col("l_quantity")], n=20)
    return out.select("l_orderkey", "l_linenumber", "l_quantity")


# ---------------------------------------------------------------------------
# GROUP BY modifiers (§2.5): ROLLUP / CUBE / TOTALS
# ---------------------------------------------------------------------------

@query("rollup_agg", oracle="""
SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN '' ELSE o_orderstatus
       END AS o_orderstatus,
       CASE WHEN GROUPING(o_orderpriority) = 1 THEN '' ELSE o_orderpriority
       END AS o_orderpriority,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""")
def rollup_agg(spark, sf_dir):
    # CH fills rolled-up key cells with the type default ('' for String),
    # not NULL (pre-group_by_use_nulls semantics) — grouping flags are
    # computed in the same Expand, so the fill is a free projection
    df = (_t(spark, sf_dir, "orders")
          .rollup("o_orderstatus", "o_orderpriority")
          .agg(F.count(F.lit(1)).alias("cnt"),
               dsum(F.col("o_totalprice")).alias("total"),
               F.grouping("o_orderstatus").alias("__g0"),
               F.grouping("o_orderpriority").alias("__g1")))
    return df.select(
        F.when(F.col("__g0") == 1, F.lit(""))
         .otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        F.when(F.col("__g1") == 1, F.lit(""))
         .otherwise(F.col("o_orderpriority")).alias("o_orderpriority"),
        "cnt", "total")


@query("cube_agg", oracle="""
SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '' ELSE l_returnflag
       END AS l_returnflag,
       CASE WHEN GROUPING(l_linestatus) = 1 THEN '' ELSE l_linestatus
       END AS l_linestatus,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def cube_agg(spark, sf_dir):
    df = (_t(spark, sf_dir, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(F.count(F.lit(1)).alias("cnt"),
               dsum(F.col("l_quantity")).alias("sum_qty"),
               F.grouping("l_returnflag").alias("__g0"),
               F.grouping("l_linestatus").alias("__g1")))
    return df.select(
        F.when(F.col("__g0") == 1, F.lit(""))
         .otherwise(F.col("l_returnflag")).alias("l_returnflag"),
        F.when(F.col("__g1") == 1, F.lit(""))
         .otherwise(F.col("l_linestatus")).alias("l_linestatus"),
        "cnt", "sum_qty")


@query("with_totals", oracle="""
SELECT CASE WHEN GROUPING(event_type) = 1 THEN '' ELSE event_type
       END AS event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value
FROM events GROUP BY GROUPING SETS ((event_type), ())
""")
def with_totals_q(spark, sf_dir):
    """GROUP BY ... WITH TOTALS (ASTSelectQuery.h:82)."""
    ev = _t(spark, sf_dir, "events")
    return with_totals(
        ev, ["event_type"],
        ["COUNT(*) AS cnt",
         "CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS total_value"])


@query("sql_totals_mode", oracle="""
WITH g AS (SELECT o_orderpriority AS pri, count(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
                    AS s
           FROM orders WHERE o_orderstatus = 'F'
           GROUP BY o_orderpriority HAVING count(*) > 500)
SELECT pri, n, s FROM g
UNION ALL
-- CH emits the totals block even when zero groups pass HAVING, with
-- empty-set defaults (sum->0); totals key cells carry the type
-- default ('' for String), not NULL; ANSI SUM over zero rows is NULL
SELECT '' AS pri, count(*) AS n,
       COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE),
                0.0) AS s
FROM orders WHERE o_orderstatus = 'F'
  AND o_orderpriority IN (SELECT pri FROM g)
""")
def sql_totals_mode(spark, sf_dir):
    """WITH TOTALS under HAVING with the default totals_mode
    (after_having_exclusive, Settings.h:109-110): the totals row is
    recomputed over the underlying rows of the groups that PASSED
    HAVING — never just filtered or left as the all-rows total."""
    return _sql(spark, sf_dir, """
        SELECT o_orderpriority AS pri, count() AS n,
               CAST(sum(CAST(o_totalprice AS Decimal(27,4))) AS Float64)
                 AS s
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority WITH TOTALS HAVING count() > 500
    """)


@query("sql_ignore_nulls", oracle="""
SELECT event_id,
       last_value(CASE WHEN event_type = 'purchase' THEN value END
                  IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS last_purchase
FROM events ORDER BY event_id LIMIT 2000
""")
def sql_ignore_nulls(spark, sf_dir):
    """IGNORE NULLS window modifier: carry the last purchase value
    forward across non-purchase events (the respect-nulls default would
    return the current row's NULL instead)."""
    return _sql(spark, sf_dir, """
        SELECT event_id,
               last_value(CASE WHEN event_type = 'purchase' THEN value END)
                 IGNORE NULLS
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS last_purchase
        FROM events ORDER BY event_id LIMIT 2000
    """)


# ---------------------------------------------------------------------------
# ORDER BY WITH FILL (§2.6)
# ---------------------------------------------------------------------------

@query("with_fill_multi", oracle="""
WITH ms AS (SELECT unnest(generate_series(1, 2)) AS m),
     ps AS (SELECT unnest(generate_series(1, 4)) AS p),
     grid AS (SELECT ms.m AS m, ps.p AS p FROM ms CROSS JOIN ps),
     agg AS (
       SELECT EXTRACT(month FROM o_orderdate) AS m,
              CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS p,
              COUNT(*) AS cnt
       FROM orders
       WHERE o_orderdate >= DATE '1995-01-01'
         AND o_orderdate < DATE '1995-04-01'
         AND substring(o_orderpriority, 1, 1) <= '3'
       GROUP BY 1, 2)
SELECT CAST(COALESCE(grid.m, agg.m) AS BIGINT) AS m,
       CAST(COALESCE(grid.p, agg.p) AS BIGINT) AS p,
       CAST(COALESCE(agg.cnt, 0) AS BIGINT) AS cnt
FROM grid FULL JOIN agg ON agg.m = grid.m AND agg.p = grid.p
ORDER BY m, p
""")
def with_fill_multi_q(spark, sf_dir):
    """Multiple ORDER BY ... WITH FILL columns: the per-column spines
    cross-join into a grid (operators/with_fill.py:with_fill_multi),
    then one FULL join against the data — TO bounds are exclusive and
    original rows outside the fill range are preserved, both per the
    public CH WITH FILL contract; spine is tiny, broadcast."""
    return _sql(spark, sf_dir, """
        SELECT toInt64(m) AS m, toInt64(p) AS p,
               toInt64(coalesce(cnt, 0)) AS cnt
        FROM (
          SELECT toMonth(o_orderdate) AS m,
                 toInt64(substring(o_orderpriority, 1, 1)) AS p,
                 count() AS cnt
          FROM orders
          WHERE o_orderdate >= toDate('1995-01-01')
            AND o_orderdate < toDate('1995-04-01')
            AND substring(o_orderpriority, 1, 1) <= '3'
          GROUP BY m, p
          ORDER BY m WITH FILL FROM 1 TO 3, p WITH FILL FROM 1 TO 5
        ) ORDER BY m, p
    """)


@query("with_fill_daily", oracle="""
WITH days AS (
  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31',
                                     INTERVAL 1 DAY)) AS DATE) AS day),
     counts AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt FROM events GROUP BY 1)
SELECT strftime(d.day, '%Y-%m-%d') AS day, COALESCE(c.cnt, 0) AS cnt
FROM days d LEFT JOIN counts c ON d.day = c.day
""")
def with_fill_q(spark, sf_dir):
    """ORDER BY day WITH FILL FROM ... TO ... STEP 1 day."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.col("ts").cast("date").alias("day"))
               .agg(F.count(F.lit(1)).alias("cnt")))
    filled = with_fill(daily, "day",
                       F.lit("2024-01-01").cast("date"),
                       F.lit("2024-01-31").cast("date"),
                       F.expr("interval 1 day"),
                       fill_defaults={"cnt": 0})
    return filled.select(F.date_format("day", "yyyy-MM-dd").alias("day"), "cnt")


# ---------------------------------------------------------------------------
# Window functions (§2.6)
# ---------------------------------------------------------------------------

@query("window_running_sum", oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_total
FROM orders
""")
def window_running_sum(spark, sf_dir):
    w = (Window.partitionBy("o_custkey")
               .orderBy("o_orderdate", "o_orderkey")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (_t(spark, sf_dir, "orders")
            .select("o_custkey", "o_orderkey",
                    F.sum(F.col("o_totalprice").cast("decimal(27,4)")).over(w)
                     .cast("double").alias("running_total")))


@query("window_rank_lag", oracle="""
SELECT event_id, user_id,
       RANK() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk,
       LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
FROM events
""")
def window_rank_lag(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (_t(spark, sf_dir, "events")
            .select("event_id", "user_id",
                    F.rank().over(w).cast("long").alias("rk"),
                    F.lag("value").over(w).alias("prev_value")))


@query("window_topk_per_group", oracle="""
SELECT p_brand, p_partkey, p_retailprice
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand
        ORDER BY p_retailprice DESC, p_partkey) AS rn FROM part)
WHERE rn <= 3
""")
def window_topk(spark, sf_dir):
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (_t(spark, sf_dir, "part")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("p_brand", "p_partkey", "p_retailprice"))


# ---------------------------------------------------------------------------
# Set operations (§2.8)
# ---------------------------------------------------------------------------

@query("setop_union_distinct", oracle="""
SELECT c_nationkey AS nk FROM customer
UNION
SELECT s_nationkey AS nk FROM supplier
""")
def setop_union(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct()


@query("setop_intersect", oracle="""
SELECT c_nationkey AS nk FROM customer
WHERE c_nationkey IN (SELECT s_nationkey FROM supplier)
""")
def setop_intersect(spark, sf_dir):
    """CH bare INTERSECT defaults to ALL with hash-set-filter semantics:
    every left row whose tuple appears in the right survives, left
    multiplicity preserved (reference SelectUnionMode.h:8-15 has no
    ALL/DISTINCT variants; docs: "the result can contain duplicate
    rows"). Lowered as a null-safe left-semi join — the DuckDB oracle
    is the equivalent IN filter."""
    return _sql(spark, sf_dir, """
        SELECT c_nationkey AS nk FROM customer
        INTERSECT
        SELECT s_nationkey AS nk FROM supplier
    """)


@query("setop_intersect_distinct", oracle="""
SELECT c_nationkey AS nk FROM customer
INTERSECT
SELECT s_nationkey AS nk FROM supplier
""")
def setop_intersect_distinct(spark, sf_dir):
    """INTERSECT DISTINCT dedups the result (SQL-standard INTERSECT —
    what DuckDB's bare INTERSECT means)."""
    return _sql(spark, sf_dir, """
        SELECT c_nationkey AS nk FROM customer
        INTERSECT DISTINCT
        SELECT s_nationkey AS nk FROM supplier
    """)


@query("setop_mixed_precedence", oracle="""
SELECT nk FROM (
  SELECT c_nationkey AS nk FROM customer
  UNION ALL
  SELECT s_nationkey AS nk FROM supplier
  WHERE s_nationkey IN (SELECT n_nationkey FROM nation
                        WHERE n_regionkey = 1)
) t
WHERE nk NOT IN (SELECT n_nationkey FROM nation WHERE n_name = 'FRANCE')
ORDER BY nk
""")
def setop_mixed_precedence(spark, sf_dir):
    """Mixed UNION ALL / INTERSECT / EXCEPT chain: CH binds INTERSECT
    tighter than UNION/EXCEPT (interpreter normalization over the flat
    mode list the reference parses — ExpressionListParsers.cpp:120-183,
    SelectUnionMode.h:8-15); UNION/EXCEPT then fold left-to-right, and
    bare INTERSECT/EXCEPT keep LEFT multiplicity (hash-set filters).
    The oracle states the grouping + multiplicity with IN / NOT IN."""
    return _sql(spark, sf_dir, """
        SELECT nk FROM (
          SELECT c_nationkey AS nk FROM customer
          UNION ALL
          SELECT s_nationkey AS nk FROM supplier
          INTERSECT
          SELECT n_nationkey AS nk FROM nation WHERE n_regionkey = 1
          EXCEPT
          SELECT n_nationkey AS nk FROM nation WHERE n_name = 'FRANCE'
        ) ORDER BY nk
    """)


@query("setop_except", oracle="""
SELECT c_custkey AS ck FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderstatus = 'F')
""")
def setop_except(spark, sf_dir):
    """CH bare EXCEPT = ALL filter semantics: drops every left row whose
    tuple appears in the right, keeps duplicates of the rest (null-safe
    left-anti join). Customers with no 'F'-status order —
    a non-trivial row set in this testdata; keys are non-null so the
    DuckDB NOT IN oracle is exact."""
    return _sql(spark, sf_dir, """
        SELECT c_custkey AS ck FROM customer
        EXCEPT
        SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F'
    """)


@query("setop_except_distinct", oracle="""
SELECT c_nationkey AS nk FROM customer
EXCEPT
SELECT s_nationkey AS nk FROM supplier
""")
def setop_except_distinct(spark, sf_dir):
    """EXCEPT DISTINCT = SQL-standard set difference."""
    return _sql(spark, sf_dir, """
        SELECT c_nationkey AS nk FROM customer
        EXCEPT DISTINCT
        SELECT s_nationkey AS nk FROM supplier
    """)


# ---------------------------------------------------------------------------
# Subqueries: IN / scalar / quantified (§2.3)
# ---------------------------------------------------------------------------

@query("in_subquery", oracle="""
SELECT COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS total
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
""")
def in_subquery(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    building = (_t(spark, sf_dir, "customer")
                .filter(F.col("c_mktsegment") == "BUILDING")
                .select("c_custkey"))
    return (orders.join(F.broadcast(building),
                        orders.o_custkey == building.c_custkey, "left_semi")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 dsum(F.col("o_totalprice")).alias("total")))


@query("scalar_subquery", oracle="""
SELECT COUNT(*) AS n_above FROM orders
WHERE o_totalprice > (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) / COUNT(*)
  FROM orders)
""")
def scalar_subquery(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    avg_df = orders.agg(davg(F.col("o_totalprice")).alias("__avg"))
    return (orders.crossJoin(F.broadcast(avg_df))
            .filter(F.col("o_totalprice") > F.col("__avg"))
            .agg(F.count(F.lit(1)).alias("n_above")))


@query("quantified_any", oracle="""
SELECT s_suppkey, s_name FROM supplier
WHERE s_acctbal > (SELECT MIN(c_acctbal) FROM customer)
""")
def quantified_any(spark, sf_dir):
    """`> ANY (subquery)` → `> min(subquery)` rewrite
    (ExpressionListParsers.cpp:201-285)."""
    supp = _t(spark, sf_dir, "supplier")
    min_df = _t(spark, sf_dir, "customer").agg(F.min("c_acctbal").alias("__m"))
    return (supp.crossJoin(F.broadcast(min_df))
            .filter(F.col("s_acctbal") > F.col("__m"))
            .select("s_suppkey", "s_name"))


@query("cte_top_supplier", oracle="""
WITH revenue AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,6))) AS DOUBLE)
           AS total_rev
  FROM lineitem GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
""")
def cte_query(spark, sf_dir):
    """WITH ... AS (subquery) CTE (ParserWithElement.cpp); TPC-H Q15 shape."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    revenue = (li.groupBy("l_suppkey").agg(dsum(disc, 6).alias("total_rev")))
    max_rev = revenue.agg(F.max("total_rev").alias("__mx"))
    supp = _t(spark, sf_dir, "supplier")
    return (supp.join(revenue, supp.s_suppkey == revenue.l_suppkey)
                .crossJoin(F.broadcast(max_rev))
                .filter(F.col("total_rev") == F.col("__mx"))
                .select("s_suppkey", "s_name", "total_rev"))


# ---------------------------------------------------------------------------
# FINAL / SAMPLE / PREWHERE (§2.2, §2.3)
# ---------------------------------------------------------------------------

@query("final_latest_event", oracle="""
SELECT user_id, event_id, event_type, value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
WHERE rn = 1
""")
def final_q(spark, sf_dir):
    """FROM events FINAL — ReplacingMergeTree collapse by (user_id, ts)."""
    ev = _t(spark, sf_dir, "events")
    out = final(ev, key=["user_id"], version="ts")
    return out.select("user_id", "event_id", "event_type", "value")


@query("sample_key_mod", oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty
FROM lineitem WHERE l_orderkey % 10 = 0
""")
def sample_mod(spark, sf_dir):
    """SAMPLE semantics: deterministic key-range sampling (oracle-portable
    modulo form; the hash form is ``sample_hash`` below)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.pmod(F.col("l_orderkey"), F.lit(10)) == 0)
    return li.agg(F.count(F.lit(1)).alias("n_rows"),
                  dsum(F.col("l_quantity")).alias("sum_qty"))


@query("sample_hash")  # no oracle: xxhash64 domain is Spark-specific
def sample_hash(spark, sf_dir):
    """SAMPLE 0.1 on the sampling key — deterministic hash-range filter."""
    li = _t(spark, sf_dir, "lineitem")
    out = sample_by_key(li, "l_orderkey", 0.1)
    return out.agg(F.count(F.lit(1)).alias("n_rows"),
                   dsum(F.col("l_quantity")).alias("sum_qty"))


@query("prewhere_filter", oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price
FROM lineitem WHERE l_quantity < 10 AND l_discount > 0.05
""")
def prewhere_q(spark, sf_dir):
    """PREWHERE p WHERE q ≡ WHERE p AND q (ParserSelectQuery.cpp:166-171);
    parquet min/max pushdown subsumes the I/O-ordering intent."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_quantity") < 10)          # PREWHERE
              .filter(F.col("l_discount") > 0.05)        # WHERE
              .agg(F.count(F.lit(1)).alias("n_rows"),
                   dsum(F.col("l_extendedprice")).alias("sum_price")))


# ---------------------------------------------------------------------------
# Aggregate combinators & parametric aggregates (§2.5, §2.10)
# ---------------------------------------------------------------------------

@query("conditional_agg", oracle="""
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(27,4)))
                     FILTER (WHERE event_type = 'purchase'), 0) AS DOUBLE)
         AS purchase_value,
       COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors
FROM events GROUP BY user_id
""")
def conditional_agg(spark, sf_dir):
    """-If combinator: countIf/sumIf = FILTER(WHERE) rewrite
    (ExpressionElementParsers.cpp:878-892)."""
    ev = _t(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    return (ev.groupBy("user_id")
            .agg(ch("countIf", is_p).alias("n_purchases"),
                 F.coalesce(
                     F.sum(F.when(is_p, F.col("value")).cast("decimal(27,4)")),
                     F.lit(0).cast("decimal(27,4)"))
                  .cast("double").alias("purchase_value"),
                 ch("countIf", F.col("event_type") == "error").alias("n_errors")))


@query("sql_countif_value", oracle="""
SELECT l_returnflag,
       COUNT(CASE WHEN l_quantity > 25
                  THEN NULLIF(l_linenumber, 1) END) AS n_committed,
       COUNT(l_shipdate) FILTER (WHERE l_discount > 0.05) AS n_disc
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")
def sql_countif_value(spark, sf_dir):
    """Two-arg countIf(x, cond) — count's 0-or-1-arg signature plus the
    -If combinator's trailing condition — counts rows where cond holds
    AND x is non-NULL; count(x) FILTER (WHERE p) is the same lowering
    (AggregateFunctionIf over AggregateFunctionCount)."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag,
               countIf(nullIf(l_linenumber, 1), l_quantity > 25)
                 AS n_committed,
               count(l_shipdate) FILTER (WHERE l_discount > 0.05)
                 AS n_disc
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """)


@query("agg_distinct", oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_supp,
       CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE)
         AS sum_distinct_qty
FROM lineitem GROUP BY l_returnflag
""")
def agg_distinct(spark, sf_dir):
    """-Distinct combinator (agg(DISTINCT x) → aggDistinct)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.count_distinct("l_suppkey").alias("n_supp"),
                 F.sum_distinct(F.col("l_quantity").cast("decimal(27,4)"))
                  .cast("double").alias("sum_distinct_qty")))


@query("quantiles", oracle="""
SELECT o_orderstatus,
       ROUND(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 4) AS p50,
       ROUND(CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE), 4) AS p90,
       ROUND(MIN(o_totalprice), 4) AS min_price,
       ROUND(MAX(o_totalprice), 4) AS max_price
FROM orders GROUP BY o_orderstatus
""")
def quantiles(spark, sf_dir):
    """Parametric aggregates quantile(0.5)(x) (ExpressionElementParsers
    :766-876) → exact interpolated percentile."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.groupBy("o_orderstatus")
            .agg(F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
                 F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
                 F.round(F.min("o_totalprice"), 4).alias("min_price"),
                 F.round(F.max("o_totalprice"), 4).alias("max_price")))


@query("sql_quantile_exact", oracle="""
SELECT l_returnflag AS flag,
       (list_sort(list(CAST(l_quantity AS INT))))
         [CAST(floor(0.5 * count(*)) AS INT) + 1] AS q50,
       (list_sort(list(CAST(l_quantity AS INT))))
         [CAST(floor(0.9 * count(*)) AS INT) + 1] AS q90
FROM lineitem GROUP BY flag ORDER BY flag
""")
def sql_quantile_exact(spark, sf_dir):
    """quantileExact(level)(x): CH picks the SORTED element at
    floor(level*n) (0-based) — NO interpolation, result keeps the input
    type. The oracle states the same element pick with DuckDB's 1-based
    list indexing. Distinct from the interpolated `quantiles` query
    above (percentile semantics)."""
    return _sql(
        spark, sf_dir,
        "SELECT l_returnflag AS flag, "
        "quantileExact(0.5)(CAST(l_quantity AS Int32)) AS q50, "
        "quantileExact(0.9)(CAST(l_quantity AS Int32)) AS q90 "
        "FROM lineitem GROUP BY flag ORDER BY flag")


@query("sql_surface_tail_r6", oracle="""
SELECT doc_id,
       CAST(regexp_matches(text, 'hash') OR regexp_matches(text, 'scan')
            AS INT) AS mm,
       levenshtein(substring(text, 1, 10), substring(text, 3, 10)) AS ed,
       length(CAST(doc_id AS VARCHAR)) AS cd,
       CAST((doc_id % 100) * 1024 AS BIGINT) AS prs
FROM documents WHERE doc_id < 200 ORDER BY doc_id
""")
def sql_surface_tail_r6(spark, sf_dir):
    """Round-6 surface tail pinned over real data via the driver gate:
    multiMatchAny (pattern-set OR), editDistance (Levenshtein),
    countDigits, parseReadableSize — each stated with an exact DuckDB
    equivalent."""
    return _sql(
        spark, sf_dir,
        "SELECT doc_id, "
        "multiMatchAny(text, ['hash', 'scan']) AS mm, "
        "editDistance(substring(text, 1, 10), substring(text, 3, 10)) "
        "  AS ed, "
        "countDigits(doc_id) AS cd, "
        "parseReadableSize(toString(doc_id % 100) || ' KiB') AS prs "
        "FROM documents WHERE doc_id < 200 ORDER BY doc_id")


@query("argmax_argmin", oracle="""
SELECT o_orderstatus,
       MAX_BY(o_orderkey, o_totalprice) AS top_order,
       MIN_BY(o_orderkey, o_totalprice) AS bottom_order
FROM orders GROUP BY o_orderstatus
""")
def argmax_argmin(spark, sf_dir):
    """CH argMax/argMin → max_by/min_by (o_totalprice has no exact ties
    in the synthetic data, so the pick is deterministic)."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.groupBy("o_orderstatus")
            .agg(ch("argMax", F.col("o_orderkey"), F.col("o_totalprice")).alias("top_order"),
                 ch("argMin", F.col("o_orderkey"), F.col("o_totalprice")).alias("bottom_order")))


@query("uniq_approx")  # no oracle: HLL sketches differ across engines
def uniq_approx(spark, sf_dir):
    """CH uniq() → approx_count_distinct (HLL)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(ch("uniq", F.col("l_partkey")).alias("approx_parts"),
                  ch("uniqExact", F.col("l_partkey")).alias("exact_parts"))


@invariant("uniq_approx",
           "uniqExact == DuckDB exact; HLL estimate within 5% rel error")
def _uniq_approx_invariant(pdf, con):
    """The checked contract behind the no-oracle row: the exact branch
    must EQUAL DuckDB's count(DISTINCT), and the HLL estimate must land
    within the published relative-error bound of Spark's HLL++
    implementation (default rsd 0.05; measured 2.7% at sf0.01)."""
    exact = con.execute(
        "SELECT count(DISTINCT l_partkey) FROM lineitem").fetchone()[0]
    row = pdf.iloc[0]
    if int(row.exact_parts) != int(exact):
        return f"uniqExact {row.exact_parts} != DuckDB exact {exact}"
    rel = abs(int(row.approx_parts) - int(exact)) / float(exact)
    if rel > 0.05:
        return f"HLL relative error {rel:.4f} > 0.05 bound"
    return None


# ---------------------------------------------------------------------------
# Scalar function surface (§2.10): strings, dates, JSON, CASE
# ---------------------------------------------------------------------------

@query("string_funcs", oracle="""
SELECT c_custkey,
       UPPER(substr(c_name, 1, 8)) AS pfx,
       CAST(length(c_name) AS BIGINT) AS name_len,
       c_mktsegment || '-' || c_name AS tag,
       replace(lower(c_name), 'customer', 'cust') AS shortname
FROM customer
""")
def string_funcs(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        ch("upper", ch("substring", F.col("c_name"), 1, 8)).alias("pfx"),
        ch("length", F.col("c_name")).cast("long").alias("name_len"),
        ch("concat", F.col("c_mktsegment"), F.lit("-"), F.col("c_name")).alias("tag"),
        ch("replaceAll", ch("lower", F.col("c_name")), "customer", "cust").alias("shortname"))


@query("date_funcs", oracle="""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
       CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS q,
       COUNT(*) AS cnt,
       CAST(MAX(EXTRACT(month FROM o_orderdate)) AS BIGINT) AS max_month
FROM orders GROUP BY 1, 2
""")
def date_funcs(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (orders.groupBy(
                ch("toYear", F.col("o_orderdate")).cast("long").alias("y"),
                ch("toQuarter", F.col("o_orderdate")).cast("long").alias("q"))
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.max(ch("toMonth", F.col("o_orderdate"))).cast("long").alias("max_month")))


@query("json_extract", oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
""")
def json_extract(spark, sf_dir):
    """JSONExtract* family over the events.props JSON column."""
    ev = _t(spark, sf_dir, "events")
    k = ch("JSONExtractInt", F.col("props"), "k")
    return (ev.groupBy((k % 10).alias("k_mod"))
            .agg(F.count(F.lit(1)).alias("cnt"),
                 dsum(F.col("value")).alias("sum_value")))


@query("multi_if_bands", oracle="""
SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 200000 THEN 'mid'
            ELSE 'high' END AS band,
       COUNT(*) AS cnt
FROM orders GROUP BY 1
""")
def multi_if_bands(spark, sf_dir):
    """multiIf / CASE chain (ParserCase.cpp:11-106)."""
    orders = _t(spark, sf_dir, "orders")
    band = ch("multiIf",
              F.col("o_totalprice") < 50000, F.lit("low"),
              F.col("o_totalprice") < 200000, F.lit("mid"),
              F.lit("high"))
    return orders.groupBy(band.alias("band")).agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# Time-series: bucketing + sessionization (§2.9 batch analogues)
# ---------------------------------------------------------------------------

@query("time_bucket_hourly", oracle="""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""")
def time_bucket_hourly(spark, sf_dir):
    """tumble(ts, 1h) batch analogue — same groupBy(window) the WINDOW
    VIEW runs under Structured Streaming (streaming/window_view.py).
    One-shot spark.sql build (r13 guide §1.2; plan/results identical)."""
    ev = _v(spark, sf_dir, "events")
    return spark.sql(f"""
        SELECT date_format(w.start, 'yyyy-MM-dd HH:mm:ss') AS hour,
               event_type, COUNT(1) AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
        FROM (SELECT window(ts, '1 hour') AS w, event_type, value FROM {ev})
        GROUP BY w, event_type""")


@query("sessionization", oracle="""
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                THEN 1 ELSE 0 END AS new_session
  FROM events)
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
FROM flagged GROUP BY user_id
""")
def sessionization(spark, sf_dir):
    """Sessionization: 30-min-gap session counts via lag + cumsum.
    One-shot spark.sql build (r13 guide §1.2; plan/results identical)."""
    ev = _v(spark, sf_dir, "events")
    return spark.sql(f"""
        SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
        FROM (SELECT user_id,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) IS NULL THEN 1
                          WHEN unix_micros(CAST(ts AS TIMESTAMP))
                               - unix_micros(CAST(lag(ts) OVER (
                                   PARTITION BY user_id ORDER BY ts, event_id)
                                 AS TIMESTAMP)) > 1800000000 THEN 1
                          ELSE 0 END AS new_session
              FROM {ev})
        GROUP BY user_id""")


@query("session_window_agg", oracle="""
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                PARTITION BY user_id ORDER BY ts)) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events),
s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
""")
def session_window_agg(spark, sf_dir):
    """Gap-based session windows in batch via F.session_window — the same
    operator SessionView runs under Structured Streaming
    (streaming/session_view.py). Oracle: gaps-and-islands SQL."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.session_window("ts", "30 minutes").alias("w"),
                       "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.date_format("w.start",
                                  "yyyy-MM-dd HH:mm:ss").alias("s_start"),
                    F.date_format("w.end",
                                  "yyyy-MM-dd HH:mm:ss").alias("s_end"),
                    "n_events"))


# ---------------------------------------------------------------------------
# Beyond-reference: dedup / similarity / text / multimodal (SURVEY §7 M6)
# ---------------------------------------------------------------------------

@query("dedup_exact", oracle="""
SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM documents GROUP BY md5(text)
""")
def dedup_exact_q(spark, sf_dir):
    """Exact dedup via content-hash groupBy (md5 here for oracle
    portability; pipeline.exact_dedup uses xxhash64 for narrow shuffles)."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.groupBy(F.md5(F.col("text")).alias("fp"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("dup_count")))


@query("dedup_minhash_lsh")  # no SQL oracle: MinHash permutations
def dedup_minhash_q(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs (shingle→minhash→band→join).

    One signature kernel: JVM shingle hashes, then a whole-batch numpy
    K-permutation min per Arrow batch (pipeline/dedup.py
    ``_minhash_kernel``) — the signatures ``dedupMinHash`` computes.
    Contract note: until the JVM twin was removed this query ran a JVM
    kernel below 4 MiB of input whose signed ``pmod`` differs from the
    unsigned mod whenever ``h·a + b`` wraps negative; the candidate
    pairs at sf0.001–sf0.1 are unchanged by the switch.
    """
    docs = _t(spark, sf_dir, "documents")
    return (minhash_lsh_candidates(docs)
            .orderBy("id_a", "id_b"))


@query("dedup_ngram_jaccard", oracle="""
WITH d AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS w
  FROM documents
), s AS (
  SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shs
  FROM d WHERE len(w) >= 3
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.shs, b.shs))::DOUBLE /
             len(list_distinct(a.shs || b.shs)), 4) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.shs, b.shs))::DOUBLE /
      len(list_distinct(a.shs || b.shs)) >= 0.5
ORDER BY id_a, id_b
""")
def dedup_jaccard_q(spark, sf_dir):
    """Exact word-3-gram Jaccard ≥ 0.5, ALL pairs — the oracle-able
    baseline (DuckDB computes string shingles; the engine's hash
    shingles give the same set sizes). All-pairs is verify-only by
    contract; the 100 TB path is the LSH-candidates form
    (ngram_jaccard_pairs), pinned as a superset in pytest."""
    docs = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_exact_pairs(docs, threshold=0.5)
    return (out.select("id_a", "id_b",
                       F.round("jaccard", 4).alias("jaccard"))
            .orderBy("id_a", "id_b"))


@query("dedup_cc_keep", oracle="""
SELECT doc_id FROM (SELECT doc_id,
         min(doc_id) OVER (PARTITION BY lang, source) AS keep
       FROM documents)
WHERE doc_id = keep ORDER BY doc_id
""")
def dedup_cc_keep_q(spark, sf_dir):
    """Connected-components dedup tail: candidate pairs → transitive
    clusters → keep the min-id representative per cluster.

    Edges here chain each doc to the NEXT doc_id of its (lang, source)
    group — a path graph, deliberately NOT transitive — so the oracle
    (min per group) matches only if connected_components actually closes
    chains. Pointer-jumping propagation: O(log diameter) join rounds,
    localCheckpoint-truncated lineage (pipeline/dedup.py)."""
    from pyspark.sql import Window

    from .pipeline import dedup_keep_canonical

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    pairs = (docs.select("doc_id", "lang", "source")
             .withColumn("__nxt", F.lead("doc_id").over(w))
             .filter(F.col("__nxt").isNotNull())
             .select(F.col("doc_id").alias("id_a"),
                     F.col("__nxt").alias("id_b")))
    return (dedup_keep_canonical(docs, pairs)
            .select("doc_id").orderBy("doc_id"))


@query("dedup_simhash")  # no SQL oracle (64-bit simhash)
def dedup_simhash_q(spark, sf_dir):
    """SimHash near-dup groups (identical 64-bit signature)."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_dups(docs)


@query("dedup_simhash_hamming")  # no SQL oracle (64-bit simhash)
def dedup_simhash_hamming_q(spark, sf_dir):
    """SimHash pairs within hamming distance 3 via pigeonhole banding
    (k+1 chunks; exact bit_count(xor) verify — pipeline/dedup.py)."""
    from .pipeline import simhash_near_dups_hamming
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_dups_hamming(docs, k=3).orderBy("id_a", "id_b")


_SIMHASH_MD5_SIG_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
  FROM documents
), th AS (
  SELECT doc_id, md5(w) AS h FROM toks WHERE w <> ''
), bits AS (
  SELECT doc_id, b.b AS bit,
         SUM(CASE WHEN ((strpos('0123456789abcdef',
                                substr(h, (b.b // 4) + 1, 1)) - 1)
                        >> (b.b % 4)) & 1 = 1
                  THEN 1 ELSE -1 END) AS vote
  FROM th, (SELECT unnest(range(32)) AS b) b
  GROUP BY doc_id, b.b
), sig AS (
  SELECT doc_id, CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << bit)
                               ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
"""


@query("dedup_simhash_md5", oracle=_SIMHASH_MD5_SIG_SQL + """
SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM sig GROUP BY simhash HAVING COUNT(*) > 1
ORDER BY simhash
""")
def dedup_simhash_md5_q(spark, sf_dir):
    """Deterministic SimHash twin (md5-nibble token bits, 32-bit) —
    pins the bit-vote construction of dedup_simhash against a full
    DuckDB recomputation of the signatures (pipeline/dedup.py
    simhash_signatures with hash="md5")."""
    from .pipeline.dedup import simhash_signatures

    docs = _t(spark, sf_dir, "documents")
    sigs = simhash_signatures(docs, hash="md5")
    return (sigs.groupBy("simhash")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("keep_id"))
            .filter(F.col("n_docs") > 1)
            .orderBy("simhash"))


@query("dedup_simhash_hamming_md5", oracle=_SIMHASH_MD5_SIG_SQL + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b
""")
def dedup_simhash_hamming_md5_q(spark, sf_dir):
    """Deterministic hamming<=3 twin: the SAME pigeonhole banding path
    as dedup_simhash_hamming (k+1 chunks over the signature, in-bucket
    candidates, exact bit_count(xor) verify) pinned against DuckDB's
    exact all-pairs answer — proves the banding loses no pair."""
    from .pipeline.dedup import simhash_hamming_pairs, simhash_signatures

    docs = _t(spark, sf_dir, "documents")
    sigs = simhash_signatures(docs, hash="md5")
    return (simhash_hamming_pairs(sigs, k=3, nbits=32)
            .orderBy("id_a", "id_b"))


@query("embedding_cosine_topk", oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe
           FROM embeddings WHERE vec_id < 10),
     scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(CAST(list_cosine_similarity(e.embedding, q.qe) AS DOUBLE), 4)
           AS cos_sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
SELECT query_id, vec_id, cos_sim
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cos_sim DESC, vec_id) AS rn FROM scored)
WHERE rn <= 5
""")
def embedding_topk(spark, sf_dir):
    """Brute-force exact cosine top-5 for 10 query vectors (ranking on
    rounded similarity so float noise can't flip the cut)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding")))
    out = brute_force_topk(emb, queries, k=5, round_digits=4)
    return out.select("query_id", "vec_id", "cos_sim")


@query("dedup_embedding_cosine", oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 4) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                             b.embedding::DOUBLE[]) >= 0.35
""")
def dedup_embedding_cosine_q(spark, sf_dir):
    """Embedding-cosine near-dup: exact all-pairs threshold filter
    (pipeline/similarity.py cosine_near_dup_pairs; the oracle-able
    baseline — the 100 TB path is dedup_embedding_lsh below). Threshold
    0.35 fits the synthetic embeddings (max pair sim ~0.51); real
    near-dup pipelines run 0.9+."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.35)


@query("dedup_embedding_lsh")  # no SQL oracle: LSH recall is approximate
def dedup_embedding_lsh_q(spark, sf_dir):
    """Embedding-cosine near-dup at scale: banded random-hyperplane LSH
    candidates + exact cosine verify (pipeline/similarity.py
    lsh_near_dup_pairs). bands=16 × 4 bits tuned for the 0.35 threshold;
    every returned pair is exact-verified >= threshold (subset of
    dedup_embedding_cosine by construction — pinned in test_pipeline)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (lsh_near_dup_pairs(emb, threshold=0.35, bands=16,
                               bits_per_band=4)
            .orderBy("id_a", "id_b"))


@query("dedup_embedding_lsh_fullband", oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 4) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                             b.embedding::DOUBLE[]) >= 0.35
ORDER BY id_a, id_b
""")
def dedup_embedding_lsh_fullband_q(spark, sf_dir):
    """The LSH plumbing pinned against the EXACT oracle: with one band
    of zero sign bits every row lands in a single bucket, so the
    candidate set is all pairs and recall is provably 1.0 — the output
    must equal dedup_embedding_cosine exactly, which lets the SQL
    oracle verify the banding kernel + the verify-join end to end
    (the banded production config is dedup_embedding_lsh above;
    this config is verify-only, one bucket is NOT the scale path)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (lsh_near_dup_pairs(emb, threshold=0.35, bands=1,
                               bits_per_band=0, max_bucket_size=10 ** 7)
            .orderBy("id_a", "id_b"))


@query("embedding_ann_lsh")  # no SQL oracle: LSH recall is approximate
def embedding_ann(spark, sf_dir):
    """Random-hyperplane LSH bucketed ANN (scale path: bucket then probe)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = lsh_bucketed_topk(emb, queries, k=5)
    return out.select("query_id", "vec_id", F.round("cos_sim", 4).alias("cos_sim"))


@invariant("embedding_ann_lsh",
           "every emitted score == DuckDB-exact cosine; <= k rows/query; "
           "no self-pairs (recall vs exact top-k is config-dependent — "
           "the recall=1.0 twin is embedding_ann_ivf_probeall / "
           "dedup_embedding_lsh_fullband)")
def _embedding_ann_lsh_invariant(pdf, con):
    """The checked contract behind the no-oracle row: whatever pairs the
    LSH buckets surface, the SCORES must be exactly the true cosine
    (DuckDB recomputes each emitted pair), with at most k=5 results per
    query and never the query itself. Recall against the exact top-k is
    honestly config-dependent on this synthetic corpus (max pair
    similarity ~0.51, no planted near-dups among the queries), so the
    provable-recall configurations are pinned by the exact-oracle twins
    instead."""
    if len(pdf) == 0:
        return "LSH ANN emitted no rows at all"
    if pdf.groupby("query_id").size().max() > 5:
        return "more than k=5 rows for a query"
    if (pdf.query_id == pdf.vec_id).any():
        return "self-pair emitted"
    vals = ", ".join(f"({int(q)}, {int(v)})"
                     for q, v in zip(pdf.query_id, pdf.vec_id))
    ex = con.execute(f"""
        WITH p(q, v) AS (VALUES {vals})
        SELECT p.q AS q, p.v AS v,
               ROUND(CAST(list_cosine_similarity(a.embedding, b.embedding)
                          AS DOUBLE), 4) AS cs
        FROM p JOIN embeddings a ON a.vec_id = p.q
               JOIN embeddings b ON b.vec_id = p.v
    """).fetchdf()
    want = {(int(r.q), int(r.v)): float(r.cs) for r in ex.itertuples()}
    for q, v, cs in zip(pdf.query_id, pdf.vec_id, pdf.cos_sim):
        w = want.get((int(q), int(v)))
        if w is None or abs(w - float(cs)) > 2e-4:  # round-mode slack
            return f"score mismatch for ({q},{v}): spark {cs} vs exact {w}"
    return None


@query("embedding_ann_ivf")  # no SQL oracle: IVF recall is approximate
def embedding_ann_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN: k-means cells + nprobe probing
    (pipeline/similarity.py ivf_topk; scale path for 100 TB corpora)."""
    from .pipeline import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4)
    return out.select("query_id", "vec_id", F.round("cos_sim", 4).alias("cos_sim"))


@query("embedding_ann_ivf_probeall", oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe
           FROM embeddings WHERE vec_id < 10),
     scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(CAST(list_cosine_similarity(e.embedding, q.qe) AS DOUBLE), 4)
           AS cos_sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
SELECT query_id, vec_id, cos_sim
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cos_sim DESC, vec_id) AS rn FROM scored)
WHERE rn <= 5
""")
def embedding_ann_ivf_probeall(spark, sf_dir):
    """The IVF machinery pinned against the EXACT oracle: probing every
    cell (nprobe = n_centroids) makes the candidate set the full corpus
    — each corpus row joins through its single cell exactly once — so
    recall is provably 1.0 and the result must equal brute-force top-k.
    Verifies train_centroids + cell assignment + probe join + the
    ranking window end to end (the approximate production config is
    embedding_ann_ivf above; probing all cells is verify-only, NOT the
    scale path)."""
    from .pipeline import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=16,
                   round_digits=4)
    return out.select("query_id", "vec_id", "cos_sim")


@query("text_quality", oracle="""
WITH toks AS (
  SELECT doc_id, text, length(text) AS n,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
           AS tokens
  FROM documents)
SELECT doc_id,
       CAST(len(tokens) AS BIGINT) AS n_tokens,
       CAST((
         (CASE WHEN n >= 50 AND n <= 20000 THEN 1.0 ELSE 0.0 END) +
         (CASE WHEN len(tokens) >= 10 THEN 1.0 ELSE 0.0 END) +
         (CASE WHEN n > 0 AND CAST(length(regexp_replace(text, '[^!?.,;:]', '', 'g'))
               AS DOUBLE) / n <= 0.2 THEN 1.0
               WHEN n = 0 THEN 1.0 ELSE 0.0 END) +
         (CASE WHEN len(list_filter(tokens,
               x -> x IN ('the','and','of','to','in'))) >= 1
               THEN 1.0 ELSE 0.0 END)) / 4.0 AS DOUBLE) AS quality
FROM toks
""")
def text_quality(spark, sf_dir):
    """Quality scoring + token counting (C4-style filters, JVM-side).

    Tokens are materialized ONCE as a projection and shared by the
    count and the quality components — inlined, the whitespace split ran
    3× per row (r13 optimization; values identical)."""
    from .pipeline.text import _tokens
    docs = _t(spark, sf_dir, "documents")
    return (docs.withColumn("__toks", _tokens("text"))
            .select("doc_id",
                    F.size("__toks").cast("long").alias("n_tokens"),
                    quality_score(F.col("text"),
                                  tokens=F.col("__toks")).alias("quality")))


@query("lang_id", oracle=None)  # oracle built dynamically below
def lang_id(spark, sf_dir):
    """Language-ID heuristic: argmax of marker-word hits per language.

    Tokens materialized once per row and shared by all 5 language
    scores (inlined, each score re-ran the regex split — r13
    optimization; values identical)."""
    from .pipeline.text import _tokens
    docs = _t(spark, sf_dir, "documents")
    return (docs.withColumn("__toks", _tokens("text"))
            .select("doc_id", "lang",
                    language_id(F.col("text"), tokens=F.col("__toks"))
                    .alias("pred_lang")))


def _lang_id_oracle() -> str:
    score = {lang: ("len(list_filter(tokens, x -> x IN ({})))".format(
        ", ".join(f"'{w}'" for w in words)))
        for lang, words in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    greatest = "GREATEST({})".format(", ".join(score[lang] for lang in langs))
    cases = " ".join(
        f"WHEN {score[lang]} = {greatest} THEN '{lang}'" for lang in langs)
    return f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
           AS tokens
  FROM documents)
SELECT doc_id, lang,
       CASE WHEN {greatest} = 0 THEN 'und' {cases} ELSE 'und' END AS pred_lang
FROM toks
"""


ORACLES["lang_id"] = _lang_id_oracle()


@query("token_count_bpe", oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_bpe
FROM documents
""")
def token_bpe(spark, sf_dir):
    """BPE-ish pre-tokenizer counting (GPT-2-style pre-split regex)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count_bpe(F.col("text")).cast("long").alias("n_bpe"))


@query("doc_fingerprint", oracle="""
SELECT doc_id,
       md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
""")
def fingerprint(spark, sf_dir):
    """Whitespace-normalized content fingerprint (md5, oracle-portable)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# ClickHouse-dialect SQL frontend end-to-end (plans/: lexer→AST→DataFrame)
# ---------------------------------------------------------------------------

def _sql(spark: SparkSession, sf_dir: str, text: str,
         engines: dict | None = None) -> DataFrame:
    from .catalog import load_all
    from .plans import execute_sql
    return execute_sql(spark, text, load_all(spark, sf_dir), engines=engines)


@query("sql_merge_reordered", oracle="""
SELECT n_nationkey, n_name, n_regionkey
FROM nation ORDER BY n_nationkey
""")
def sql_merge_reordered_q(spark, sf_dir):
    """merge() table function over two tables whose columns are declared
    in DIFFERENT orders — the Merge engine reads columns by NAME, so the
    union must realign instead of scrambling values positionally (the
    round-5 bug class; builder._table_function unionByName path). The
    oracle is simply the undivided base table."""
    from .catalog import load_all
    from .plans import execute_sql
    tables = dict(load_all(spark, sf_dir))
    nat = _t(spark, sf_dir, "nation")
    tables["nation_a"] = (nat.filter(F.col("n_nationkey") % 2 == 0)
                          .select("n_nationkey", "n_name", "n_regionkey"))
    tables["nation_b"] = (nat.filter(F.col("n_nationkey") % 2 == 1)
                          .select("n_regionkey", "n_name", "n_nationkey"))
    return execute_sql(
        spark,
        "SELECT n_nationkey, n_name, n_regionkey FROM merge('nation_[ab]') "
        "ORDER BY n_nationkey", tables)


@query("sql_q1_frontend", oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def sql_q1(spark, sf_dir):
    """Flagship query through the full SQL path: CH dialect text → lexer →
    AST → plan builder → Catalyst (SURVEY §3 target lifecycle)."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 4) AS sum_qty,
               count() AS count_order
        FROM lineitem
        WHERE l_shipdate <= toDate('1998-09-02')
        GROUP BY l_returnflag, l_linestatus
    """)


@query("sql_limit_by", oracle="""
SELECT o_orderpriority, o_orderkey FROM
(SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
   ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
WHERE rn <= 2
""")
def sql_limit_by(spark, sf_dir):
    """LIMIT n BY through the dialect parser."""
    return _sql(spark, sf_dir,
                "SELECT o_orderpriority, o_orderkey FROM orders "
                "ORDER BY o_totalprice DESC, o_orderkey "
                "LIMIT 2 BY o_orderpriority")


@query("sql_named_window", oracle="""
SELECT o_orderkey, rnk, run_price FROM (
  SELECT o_orderkey,
         RANK() OVER w AS rnk,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
           AS run_price
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
) ORDER BY o_orderkey LIMIT 500
""")
def sql_named_window(spark, sf_dir):
    """Named WINDOW clause: WINDOW w AS (...) referenced via OVER w
    (ParserSelectQuery window clause; reference window tests)."""
    return _sql(spark, sf_dir, """
        SELECT o_orderkey, rnk, run_price FROM (
          SELECT o_orderkey,
                 rank() OVER w AS rnk,
                 toFloat64(sum(CAST(o_totalprice AS Decimal(18,2))) OVER w)
                   AS run_price
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ) ORDER BY o_orderkey LIMIT 500
    """)


@query("sql_correlated_exists", oracle="""
SELECT c_custkey, c_name FROM customer WHERE EXISTS
  (SELECT 1 FROM orders WHERE o_custkey = c_custkey
   AND o_totalprice > 300000)
""")
def sql_correlated_exists(spark, sf_dir):
    """Correlated EXISTS decorrelated to a hash left-semi join
    (builder._decorrelate): outer-referencing conjuncts become join
    conditions — no per-row subquery re-execution, AQE/broadcast
    eligible at scale."""
    return _sql(spark, sf_dir, """
        SELECT c_custkey, c_name FROM customer WHERE EXISTS
          (SELECT 1 FROM orders WHERE o_custkey = c_custkey
           AND o_totalprice > 300000)
    """)


@query("sql_correlated_scalar", oracle="""
SELECT c_custkey,
       (SELECT count(*) FROM orders WHERE o_custkey = c_custkey)
         AS n_orders,
       (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey)
         AS max_price
FROM customer ORDER BY c_custkey
""")
def sql_correlated_scalar(spark, sf_dir):
    """Correlated scalar subqueries in the SELECT list, decorrelated to
    groupBy-on-correlation-key + left hash join (builder._scalar_corr_join):
    the subquery aggregates once per distinct key — one shuffle with
    map-side combine — instead of re-executing per outer row. count()
    over an empty group coalesces to 0, max() stays NULL (SQL standard,
    DuckDB-verified)."""
    return _sql(spark, sf_dir, """
        SELECT c_custkey,
               (SELECT count() FROM orders WHERE o_custkey = c_custkey)
                 AS n_orders,
               (SELECT max(o_totalprice) FROM orders
                WHERE o_custkey = c_custkey) AS max_price
        FROM customer ORDER BY c_custkey
    """)


@query("sql_asof_using", oracle="""
SELECT p.event_id, p.user_id, s.event_id AS signup_event_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
ON p.user_id = s.user_id AND p.ts >= s.ts
ORDER BY p.event_id
""")
def sql_asof_using(spark, sf_dir):
    """ASOF LEFT JOIN ... USING (k, t) through the SQL frontend: the
    last USING column is the inequality key (builder lowers to the
    union+window asof operator — one equi-key shuffle)."""
    return _sql(spark, sf_dir, """
        SELECT event_id, user_id, signup_event_id FROM
          (SELECT user_id, ts, event_id FROM events
           WHERE event_type = 'purchase') p
        ASOF LEFT JOIN
          (SELECT user_id, ts, event_id AS signup_event_id FROM events
           WHERE event_type = 'signup') s
        USING (user_id, ts)
        ORDER BY event_id
    """)


@query("sql_asof_strict", oracle="""
WITH p AS (SELECT event_id, user_id,
                  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
           FROM events WHERE event_type = 'purchase'),
     d AS (SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
                    AS prev_day, count(*) AS n_events
           FROM events GROUP BY 1, 2)
SELECT p.event_id, p.user_id, d.prev_day, d.n_events
FROM p ASOF LEFT JOIN d
ON p.user_id = d.user_id AND p.day > d.prev_day
ORDER BY p.event_id
""")
def sql_asof_strict(spark, sf_dir):
    """ASOF JOIN with a STRICT inequality (``>``): the most recent
    strictly-earlier day must exclude rows at exactly the left timestamp
    (every purchase has events on its own day, so inclusive semantics
    would give a different answer — the strictness genuinely bites).
    CH accepts all four comparison tokens on the asof column
    (src/Parsers/ASTTablesInSelectQuery.h:82)."""
    return _sql(spark, sf_dir, """
        SELECT event_id, user_id, prev_day, n_events FROM
          (SELECT event_id, user_id, toStartOfDay(ts) AS day FROM events
           WHERE event_type = 'purchase') p
        ASOF LEFT JOIN
          (SELECT user_id, toStartOfDay(ts) AS prev_day,
                  count() AS n_events
           FROM events GROUP BY user_id, toStartOfDay(ts)) d
        ON p.user_id = d.user_id AND p.day > d.prev_day
        ORDER BY event_id
    """)


def _memory_session(spark, sf_dir):
    """A ChSession (temporary warehouse) whose default database holds
    every catalog table as a Memory table."""
    from .catalog import load_all
    from .ddl import ChSession, TableMeta

    s = ChSession(spark)
    for name, df in load_all(spark, sf_dir).items():
        s.databases["default"][name] = TableMeta(
            name=name, database="default",
            columns=[(f.name, f.dataType.simpleString())
                     for f in df.schema.fields], memory_df=df)
    return s


@query("sql_udf_macro", oracle="""
SELECT o_orderkey,
       round(o_totalprice * 1.1, 4) AS taxed,
       upper(o_orderpriority) AS pri
FROM orders ORDER BY o_orderkey LIMIT 500
""")
def sql_udf_macro(spark, sf_dir):
    """CREATE FUNCTION SQL lambda UDFs through a full session: macro
    expansion into JVM expressions (ddl.ChSession + builder._substitute),
    composing one UDF inside another."""
    s = _memory_session(spark, sf_dir)
    s.execute("CREATE FUNCTION with_tax AS (p, rate) -> p * (1 + rate)")
    s.execute("CREATE FUNCTION std_tax AS p -> with_tax(p, 0.1)")
    return s.execute("""
        SELECT o_orderkey, round(std_tax(o_totalprice), 4) AS taxed,
               upper(o_orderpriority) AS pri
        FROM orders ORDER BY o_orderkey LIMIT 500
    """)


@query("sql_final_summing", oracle="""
SELECT l_orderkey AS k,
       ROUND(SUM(CAST(l_quantity AS DOUBLE)), 4) AS qty
FROM lineitem WHERE l_orderkey < 500
GROUP BY l_orderkey ORDER BY k
""")
def sql_final_summing(spark, sf_dir):
    """SummingMergeTree FINAL (operators/final.py final_summing): one
    row per sorting key with summable columns summed — the oracle
    states the same collapse as a plain GROUP BY SUM."""
    s = _memory_session(spark, sf_dir)
    s.execute("CREATE TABLE sum_t (k UInt64, qty Float64) "
              "ENGINE = SummingMergeTree ORDER BY k")
    s.execute("INSERT INTO sum_t SELECT l_orderkey AS k, "
              "CAST(l_quantity AS Float64) AS qty FROM lineitem "
              "WHERE l_orderkey < 500")
    return s.execute(
        "SELECT k, round(qty, 4) AS qty FROM sum_t FINAL ORDER BY k")


@query("sql_retention", oracle="""
SELECT user_id,
       CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            AS INTEGER) AS r1,
       CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            * MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS INTEGER) AS r2,
       CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            * MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS INTEGER) AS r3
FROM events GROUP BY user_id
""")
def sql_retention(spark, sf_dir):
    """retention() aggregate (functions/aggregates.py _retention): each
    later condition only counts together with the first. Oracle states
    the same max-product semantics column-wise."""
    return _sql(spark, sf_dir, """
        SELECT user_id,
               r[1] AS r1, r[2] AS r2, r[3] AS r3
        FROM (SELECT user_id,
                     retention(event_type = 'view', event_type = 'click',
                               event_type = 'purchase') AS r
              FROM events GROUP BY user_id)
    """)


@query("sql_sequence_match", oracle="""
SELECT user_id,
       CAST(CASE WHEN MIN(CASE WHEN event_type = 'view' THEN ts END)
                 < MAX(CASE WHEN event_type = 'purchase' THEN ts END)
            THEN 1 ELSE 0 END AS INTEGER) AS m
FROM events GROUP BY user_id
""")
def sql_sequence_match(spark, sf_dir):
    """sequenceMatch('(?1).*(?2)') — a view event chronologically before
    a purchase event. For the two-step any-gap pattern this is exactly
    'earliest view < latest purchase', which the oracle states
    independently of the fold implementation."""
    return _sql(spark, sf_dir, """
        SELECT user_id,
               sequenceMatch('(?1).*(?2)')(ts, event_type = 'view',
                                           event_type = 'purchase') AS m
        FROM events GROUP BY user_id
    """)


@query("funnel_window", oracle="""
WITH e AS (
  SELECT user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              WHEN 'purchase' THEN 3 ELSE 4 END AS ci
  FROM events
), s AS (
  SELECT user_id, t, ci,
         MAX(CASE WHEN ci = 1 THEN t END) OVER
           (PARTITION BY user_id ORDER BY t, ci
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_start
  FROM e
), s2 AS (
  SELECT user_id, t, ci, v_start,
         MAX(CASE WHEN ci = 2 AND t - v_start <= 86400
                  THEN v_start END) OVER
           (PARTITION BY user_id ORDER BY t, ci
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_start
  FROM s
)
SELECT user_id,
       MAX(CASE WHEN ci = 3 AND t - c_start <= 86400 THEN 3
                WHEN ci = 2 AND t - v_start <= 86400 THEN 2
                WHEN ci = 1 THEN 1 ELSE 0 END) AS levels
FROM s2 GROUP BY user_id ORDER BY user_id
""")
def funnel_window_q(spark, sf_dir):
    """windowFunnel(1 day)(ts, view->click->purchase) over events —
    longest in-order prefix per user inside the window
    (functions/aggregates.py _window_funnel, hand-computed goldens in
    test_functions_breadth).

    The oracle states the no-mode fold exactly in window SQL: cond1
    refreshes the chain start, so the start recorded at each firing
    cond2 event (its latest preceding view) is non-decreasing in time —
    the LAST firing click's start the greedy fold keeps equals the MAX
    over all firing clicks the SQL takes. Level k fires iff the event
    is within the window of its chain's cond1 time."""
    return _sql(spark, sf_dir, """
        SELECT user_id,
               windowFunnel(86400)(toUnixTimestamp(ts),
                   event_type = 'view', event_type = 'click',
                   event_type = 'purchase') AS levels
        FROM events GROUP BY user_id ORDER BY user_id
    """)


@query("sql_numeric_promotion", oracle="""
SELECT l_orderkey,
       CAST(l_linenumber - 1 AS SMALLINT) AS p16,
       CAST(l_linenumber * 300 AS BIGINT) AS p64,
       CAST(l_linenumber + 0.5 AS DOUBLE) AS pf
FROM lineitem WHERE l_orderkey < 100
""")
def sql_numeric_promotion(spark, sf_dir):
    """ClickHouse numeric promotion (getLeastSupertype + NumberTraits,
    functions/typemap.py): UInt8+Int8 -> Int16, UInt32*Int16 -> Int64,
    int+Float64 -> Float64. The oracle states the expected CH result
    types with explicit CASTs (DuckDB's own coercion differs), so the
    hash compare pins both values and widths."""
    return _sql(spark, sf_dir, """
        SELECT l_orderkey,
               toUInt8(l_linenumber) + toInt8(-1) AS p16,
               toUInt32(l_linenumber) * toInt16(300) AS p64,
               toInt32(l_linenumber) + 0.5 AS pf
        FROM lineitem WHERE l_orderkey < 100
    """)


@query("sql_dict_get", oracle="""
SELECT s.s_suppkey AS s_suppkey,
       COALESCE(n.n_name, '?') AS nat,
       CASE WHEN n.n_nationkey IS NULL THEN 0 ELSE 1 END AS has_nat
FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
ORDER BY s_suppkey
""")
def sql_dict_get(spark, sf_dir):
    """CREATE DICTIONARY + dictGet/dictHas point lookups through a full
    session (ddl.DictMeta, builder._dict_fn). The dictionary loads the
    nation table once into a RAM map (bounded by contract — every CH
    layout is memory-resident) and each dictGet is a map lookup, the
    broadcast-hash analogue of the LEFT JOIN the oracle states."""
    s = _memory_session(spark, sf_dir)
    s.execute("""
        CREATE DICTIONARY nat_dict (
            n_nationkey UInt64, n_name String DEFAULT '?')
        PRIMARY KEY n_nationkey
        SOURCE(CLICKHOUSE(TABLE 'nation'))
        LAYOUT(FLAT()) LIFETIME(300)
    """)
    return s.execute("""
        SELECT s_suppkey,
               dictGet('nat_dict', 'n_name', s_nationkey) AS nat,
               dictHas('nat_dict', s_nationkey) AS has_nat
        FROM supplier ORDER BY s_suppkey
    """)


@query("sql_groups_frame", oracle="""
SELECT o_custkey, o_orderkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
         OVER (PARTITION BY o_custkey ORDER BY dr
               RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS grp_sum
FROM (SELECT *, dense_rank() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate) AS dr FROM orders)
ORDER BY o_orderkey LIMIT 1000
""")
def sql_groups_frame(spark, sf_dir):
    """GROUPS window frame (builder's dense_rank→RANGE rewrite). DuckDB
    has no GROUPS mode, so the oracle states the same semantics
    explicitly as dense_rank + RANGE — an independent formulation, not
    a copy of our lowering's output."""
    return _sql(spark, sf_dir, """
        SELECT o_custkey, o_orderkey,
               toFloat64(sum(CAST(o_totalprice AS Decimal(18,2))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate
                 GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW)) AS grp_sum
        FROM orders ORDER BY o_orderkey LIMIT 1000
    """)


@query("sql_grouping_sets", oracle="""
SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '' ELSE l_returnflag
       END AS l_returnflag,
       CASE WHEN GROUPING(l_linestatus) = 1 THEN '' ELSE l_linestatus
       END AS l_linestatus,
       count(*) AS cnt FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
ORDER BY l_returnflag, l_linestatus
""")
def sql_grouping_sets(spark, sf_dir):
    """GROUPING SETS: one scan + Expand (SURVEY §2.5), missing keys on
    each set's rows filled with the key TYPE'S default ('' for String) —
    ClickHouse pre-group_by_use_nulls semantics, not Spark's NULL fill."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag, l_linestatus, count() AS cnt FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY l_returnflag, l_linestatus
    """)


@query("sql_group_by_all", oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem
GROUP BY ALL ORDER BY l_returnflag, l_linestatus
""")
def sql_group_by_all(spark, sf_dir):
    """GROUP BY ALL — every non-aggregate SELECT expression becomes a
    key (ParserSelectQuery GROUP BY ALL)."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag, l_linestatus, count() AS cnt FROM lineitem
        GROUP BY ALL ORDER BY l_returnflag, l_linestatus
    """)


@query("sql_hof_lambda", oracle="""
SELECT doc_id, array_to_string(list_filter(list_transform(
         string_split(text, ' '), w -> CAST(length(w) AS BIGINT)),
         x -> x > 3), ',') AS lens
FROM documents ORDER BY doc_id LIMIT 200
""")
def sql_hof_lambda(spark, sf_dir):
    """Nested higher-order functions with lambdas: arrayMap/arrayFilter
    → Spark transform/filter, fully JVM-side (no Python UDF). The result
    is projected to a CSV string so the driver's pandas canonicalizer
    can sort it (raw-array form is pinned in tests/test_sql_frontend)."""
    return _sql(spark, sf_dir, """
        SELECT doc_id, arrayStringConcat(arrayMap(v -> toString(v),
                 arrayFilter(x -> x > 3,
                   arrayMap(w -> toInt64(length(w)),
                            splitByChar(' ', text)))), ',') AS lens
        FROM documents ORDER BY doc_id LIMIT 200
    """)


@query("sql_agg_distinct_breadth", oracle="""
SELECT l_returnflag,
       avg(DISTINCT l_linenumber) AS avg_ln,
       array_to_string(list_sort(list(DISTINCT l_linenumber)), ',') AS lns,
       round(stddev_samp(DISTINCT l_linenumber), 6) AS sd_ln,
       CAST(median(DISTINCT l_linenumber) AS DOUBLE) AS med_ln,
       avg(DISTINCT CASE WHEN l_linenumber > 2 THEN l_linenumber END)
         AS avg_ln_gt2
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")
def sql_agg_distinct_breadth(spark, sf_dir):
    """agg(DISTINCT) for EVERY aggregate, not just count/sum — the
    -Distinct combinator applies universally
    (src/Parsers/ExpressionElementParsers.cpp:866-867): avg(DISTINCT)
    is the distinct-set average, groupArray(DISTINCT) drops duplicates,
    stddev/median reduce over the distinct set, and FILTER composes."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag,
               avg(DISTINCT l_linenumber) AS avg_ln,
               arrayStringConcat(arrayMap(v -> toString(v),
                 arraySort(groupArray(DISTINCT l_linenumber))), ',') AS lns,
               round(stddevSamp(DISTINCT l_linenumber), 6) AS sd_ln,
               median(DISTINCT l_linenumber) AS med_ln,
               avg(DISTINCT l_linenumber) FILTER(WHERE l_linenumber > 2)
                 AS avg_ln_gt2
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """)


@query("sql_star_modifiers", oracle="""
SELECT r_regionkey + 100 AS r_regionkey FROM region ORDER BY r_regionkey
""")
def sql_star_modifiers(spark, sf_dir):
    """* EXCEPT (...) REPLACE (...) column matchers
    (ParserTablesInSelectQuery asterisk transformers, SURVEY §2.3)."""
    return _sql(spark, sf_dir, """
        SELECT * EXCEPT (r_name) REPLACE (r_regionkey + 100 AS r_regionkey)
        FROM region ORDER BY r_regionkey
    """)


@query("sql_in_having", oracle="""
SELECT l_orderkey, sum(l_quantity) AS sum_qty
FROM lineitem GROUP BY l_orderkey
HAVING l_orderkey IN (SELECT o_orderkey FROM orders
                      WHERE o_orderpriority = '1-URGENT')
   AND sum(l_quantity) > 50
ORDER BY l_orderkey
""")
def sql_in_having(spark, sf_dir):
    """IN-subquery in HAVING position, lowered distributed: aggregates
    and group keys are slotified to their materialized columns and the
    IN becomes a marker left join against the aggregated frame
    (builder._slotify + _lower_in_subqueries) — the former 100k-row
    driver collect never runs. One extra equi-key join, broadcast
    eligible, no driver materialization at 100 TB."""
    return _sql(spark, sf_dir, """
        SELECT l_orderkey, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')
           AND sum(l_quantity) > 50
        ORDER BY l_orderkey
    """)


@query("sql_exists_or", oracle="""
SELECT c_custkey, c_name FROM customer
WHERE c_acctbal < 0 OR EXISTS
  (SELECT 1 FROM orders WHERE o_custkey = c_custkey
   AND o_totalprice > 400000)
""")
def sql_exists_or(spark, sf_dir):
    """Correlated EXISTS under OR — a semi join can't filter here, so
    the lowering is a marker left join on the distinct correlation keys
    (builder._exists_marker_join): dedup guarantees no fan-out, one
    equi-key shuffle, broadcastable at scale."""
    return _sql(spark, sf_dir, """
        SELECT c_custkey, c_name FROM customer
        WHERE c_acctbal < 0 OR EXISTS
          (SELECT 1 FROM orders WHERE o_custkey = c_custkey
           AND o_totalprice > 400000)
    """)


@query("sql_final_sample", oracle="""
SELECT user_id, event_id FROM
(SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
   ORDER BY ts DESC, event_id DESC) AS rn FROM events)
WHERE rn = 1
""")
def sql_final(spark, sf_dir):
    """FROM events FINAL through the dialect parser + engine metadata."""
    return _sql(spark, sf_dir, "SELECT user_id, event_id FROM events FINAL",
                engines={"events": {"order_by": ["user_id"], "version": "ts"}})


@query("sql_array_join", oracle="""
WITH words AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
SELECT word, COUNT(*) AS n FROM words GROUP BY word
ORDER BY n DESC, word LIMIT 10
""")
def sql_array_join(spark, sf_dir):
    """ARRAY JOIN through the dialect parser."""
    return _sql(spark, sf_dir,
                "SELECT word, count() AS n FROM documents "
                "ARRAY JOIN splitByChar(' ', text) AS word "
                "GROUP BY word ORDER BY n DESC, word LIMIT 10")


@query("sql_in_expr_or", oracle="""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
   OR c_acctbal > 9900
""")
def sql_in_expr_or(spark, sf_dir):
    """IN-subquery in *expression position* (under OR): lowered to a
    distributed marker left join (builder._lower_in_subqueries), not a
    driver-side collect — the 100 TB-safe shape for set membership that
    can't become a semi join."""
    return _sql(spark, sf_dir, """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 400000)
           OR c_acctbal > 9900
    """)


@query("sql_join_defaults", oracle="""
SELECT n_nationkey, n_name,
       COALESCE(s_suppkey, 0) AS s_suppkey,
       COALESCE(s_name, '') AS s_name,
       COALESCE(s_acctbal, 0.0) AS s_acctbal
FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
""")
def sql_join_defaults(spark, sf_dir):
    """join_use_nulls=0 (the CH default, reference src/Core/Settings.h): a
    LEFT JOIN fills non-matched right cells with the column type's default
    (0 / '' / 0.0), not NULL. Marker-based fill preserves genuine NULLs in
    matched rows (operators/joins.py:join_with_defaults)."""
    return _sql(spark, sf_dir, """
        SELECT n_nationkey, n_name, s_suppkey, s_name, s_acctbal
        FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
    """)


@query("sql_any_on", oracle="""
SELECT o_orderkey,
       COALESCE(l_linenumber, 0) AS l_linenumber,
       COALESCE(l_quantity, 0.0) AS l_quantity
FROM orders LEFT JOIN (
  SELECT l_orderkey, l_linenumber, l_quantity FROM (
    SELECT l_orderkey, l_linenumber, l_quantity,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
             ORDER BY l_orderkey, l_linenumber, l_quantity) AS rn
    FROM lineitem) t WHERE rn = 1
) li ON o_orderkey = l_orderkey
""")
def sql_any_on(spark, sf_dir):
    """ANY LEFT JOIN with an ON clause (not USING): equi-keys are extracted
    from the ON conjunction, the right side deduped to one deterministic
    row per key before the join (builder._split_equi_pairs). Non-matched
    orders get type defaults per join_use_nulls=0."""
    return _sql(spark, sf_dir, """
        SELECT o_orderkey, l_linenumber, l_quantity
        FROM orders ANY LEFT JOIN
          (SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem) AS li
          ON o_orderkey = l_orderkey
    """)


@query("multimodal_decode", oracle="""
SELECT doc_id, 'image/png' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
       CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS height,
       md5(text) AS checksum
FROM documents
""")
def multimodal_q(spark, sf_dir):
    """Binary-column plumbing: attach payload + metadata, Arrow-batched
    decode via mapInPandas (decode itself is a deterministic stub)."""
    docs = _t(spark, sf_dir, "documents")
    return decode_image_batch(attach_binary_payload(docs))


@query("passage_dedup", oracle="""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
  FROM documents),
c AS (
  SELECT doc_id, list_transform(
           range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT)),
           i -> array_to_string(ws[i*8+1 : i*8+8], ' ')) AS chunks
  FROM w),
e AS (
  SELECT doc_id, unnest(chunks) AS chunk,
         generate_subscripts(chunks, 1) AS pos
  FROM c),
cnt AS (SELECT chunk, count(*) AS n FROM e GROUP BY chunk)
SELECT e.doc_id,
       md5(coalesce(string_agg(CASE WHEN cnt.n <= 1 THEN e.chunk END,
                               ' ' ORDER BY e.pos), '')) AS kept_md5,
       CAST(count(CASE WHEN cnt.n <= 1 THEN 1 END) AS BIGINT) AS n_units,
       CAST(count(CASE WHEN cnt.n > 1 THEN 1 END) AS BIGINT) AS n_removed
FROM e JOIN cnt USING (chunk)
GROUP BY e.doc_id
""")
def passage_dedup_q(spark, sf_dir):
    """Cross-document passage dedup (RefinedWeb/CCNet line-dedup shape,
    word-chunk units for this line-less corpus): 8-word passages
    occurring >1 time corpus-wide are removed from every document;
    remaining passages keep document order. Compared via md5 of the
    rebuilt text."""
    from .pipeline.dedup import passage_dedup
    docs = _t(spark, sf_dir, "documents")
    out = passage_dedup(docs, words_per_chunk=8, max_count=1)
    return out.select("doc_id", F.md5("kept_text").alias("kept_md5"),
                      "n_units", "n_removed")


@query("gopher_repetition", oracle="""
WITH toks AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
  FROM documents),
base AS (
  SELECT doc_id, n_chars,
         CASE WHEN len(ws) > 0
              THEN 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
              ELSE 0.0 END AS dup_word_frac,
         CASE WHEN list_sum(list_transform(ws, x -> length(x))) > 0
              THEN CAST(list_sum(list_transform(ws, x -> length(x)))
                        - list_sum(list_transform(list_distinct(ws),
                                                  x -> length(x)))
                        AS DOUBLE)
                   / list_sum(list_transform(ws, x -> length(x)))
              ELSE 0.0 END AS dup_word_char_frac,
         ws
  FROM toks),
grams AS (
  SELECT doc_id, unnest(list_transform(
           range(0, CASE WHEN len(ws) >= 2 THEN len(ws) - 1 ELSE 0 END),
           i -> array_to_string(ws[i+1 : i+2], ' '))) AS g
  FROM base),
gcnt AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
top AS (
  SELECT doc_id, max(c * length(g)) AS cov FROM gcnt GROUP BY doc_id)
SELECT b.doc_id,
       round(b.dup_word_frac, 6) AS dup_word_frac,
       round(b.dup_word_char_frac, 6) AS dup_word_char_frac,
       round(CASE WHEN b.n_chars > 0
             THEN CAST(coalesce(t.cov, 0) AS DOUBLE) / b.n_chars
             ELSE 0.0 END, 6) AS top2gram_char_frac
FROM base b LEFT JOIN top t USING (doc_id)
""")
def gopher_repetition_q(spark, sf_dir):
    """Gopher-style repetition quality signals (Rae et al. 2021, public):
    duplicate-word fraction, duplicate-word character fraction, and the
    character fraction covered by the most frequent word 2-gram. The
    fractions are zero-shuffle column expressions; the top-2-gram pass
    is explode -> (doc, gram) count -> per-doc max."""
    from .pipeline.text import (_tokens, dup_unit_fraction,
                                dup_unit_char_fraction,
                                top_ngram_char_fraction)
    docs = _t(spark, sf_dir, "documents")
    # tokens materialized once per row; the two dup-fraction signals
    # reference the projected column (inlined, the regex split ran 4x
    # per row — r13 optimization; values identical)
    toks = F.col("__toks")
    base = (docs.withColumn("__toks", _tokens("text"))
            .select(
        "doc_id", "text",
        F.round(dup_unit_fraction(toks), 6).alias("dup_word_frac"),
        F.round(dup_unit_char_fraction(toks), 6).alias("dup_word_char_frac")))
    top = top_ngram_char_fraction(docs, "doc_id", "text", 2)
    return (base.join(top, "doc_id", "left")
            .select("doc_id", "dup_word_frac", "dup_word_char_frac",
                    F.round(F.coalesce(F.col("top2gram_char_frac"),
                                       F.lit(0.0)), 6)
                    .alias("top2gram_char_frac")))


@query("pii_scrub", oracle="""
WITH enriched AS (
  SELECT doc_id,
         text || ' contact u' || doc_id ||
         '@example.com from 10.0.' || (doc_id % 256) ||
         '.7 call +1 555-000-' || (1000 + doc_id % 9000) AS t
  FROM documents),
scrubbed AS (
  SELECT doc_id, t,
    CAST(len(regexp_extract_all(t,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
      AS n_emails,
    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g') AS t1
  FROM enriched),
s2 AS (
  SELECT doc_id, n_emails,
    CAST(len(regexp_extract_all(t1,
      '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ips,
    regexp_replace(t1, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g')
      AS t2
  FROM scrubbed)
SELECT doc_id, n_emails, n_ips,
  CAST(len(regexp_extract_all(t2, '\\+?\\d[\\d\\-\\s]{7,}\\d')) AS BIGINT)
    AS n_phones,
  md5(regexp_replace(t2, '\\+?\\d[\\d\\-\\s]{7,}\\d', '<PHONE>', 'g'))
    AS scrubbed_md5
FROM s2
""")
def pii_scrub_q(spark, sf_dir):
    """PII scrubbing pass (training-data hygiene): emails, IPv4s, and
    phone-like digit runs replaced by typed placeholders, with per-type
    counts. The corpus has no organic PII, so both engines append the
    same deterministic contact line per document before scrubbing — the
    redaction work (and the md5 compare on the scrubbed text) is real.
    Counts are taken pattern-by-pattern on the progressively-scrubbed
    text, exactly as the oracle does."""
    from .pipeline.text import PII_PATTERNS, pii_count
    docs = _t(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact u"), F.col("doc_id"),
            F.lit("@example.com from 10.0."), F.col("doc_id") % 256,
            F.lit(".7 call +1 555-000-"),
            (F.col("doc_id") % 9000 + 1000)).alias("t"))
    out = enriched.withColumn("n_emails",
                              pii_count(F.col("t"), "email").cast("long"))
    out = out.withColumn("t1", F.regexp_replace(
        "t", PII_PATTERNS[0][1], PII_PATTERNS[0][2]))
    out = out.withColumn("n_ips",
                         pii_count(F.col("t1"), "ipv4").cast("long"))
    out = out.withColumn("t2", F.regexp_replace(
        "t1", PII_PATTERNS[1][1], PII_PATTERNS[1][2]))
    out = out.withColumn("n_phones",
                         pii_count(F.col("t2"), "phone").cast("long"))
    return out.select(
        "doc_id", "n_emails", "n_ips", "n_phones",
        F.md5(F.regexp_replace("t2", PII_PATTERNS[2][1],
                               PII_PATTERNS[2][2])).alias("scrubbed_md5"))


def _training_recipe_oracle() -> str:
    """Oracle for the end-to-end recipe: the same stage chain as
    prepare_training_data (quality >= 0.5 → lang = 'en' → PII scrub →
    8-word passage dedup → exact near-dup keep-min-id) expressed as
    DuckDB CTEs, each fragment shared with its stage's own oracle."""
    score = {lang: "len(list_filter(tokens, x -> x IN ({})))".format(
        ", ".join(f"'{w}'" for w in words))
        for lang, words in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    greatest = "GREATEST({})".format(", ".join(score[la] for la in langs))
    cases = " ".join(
        f"WHEN {score[la]} = {greatest} THEN '{la}'" for la in langs)
    pred = f"CASE WHEN {greatest} = 0 THEN 'und' {cases} ELSE 'und' END"
    return """
WITH base AS (
  SELECT doc_id, text, length(text) AS n,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS tokens
  FROM documents),
qf AS (
  SELECT doc_id, text, tokens FROM base
  WHERE ((CASE WHEN n >= 50 AND n <= 20000 THEN 1.0 ELSE 0.0 END) +
         (CASE WHEN len(tokens) >= 10 THEN 1.0 ELSE 0.0 END) +
         (CASE WHEN n > 0 AND CAST(length(regexp_replace(text,
               '[^!?.,;:]', '', 'g')) AS DOUBLE) / n <= 0.2 THEN 1.0
               WHEN n = 0 THEN 1.0 ELSE 0.0 END) +
         (CASE WHEN len(list_filter(tokens,
               x -> x IN ('the','and','of','to','in'))) >= 1
               THEN 1.0 ELSE 0.0 END)) / 4.0 >= 0.5),
lf AS (SELECT doc_id, text FROM qf WHERE __PRED__ = 'en'),
sc AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
           '<EMAIL>', 'g'),
           '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
           '\\+?\\d[\\d\\-\\s]{7,}\\d', '<PHONE>', 'g') AS t
  FROM lf),
w AS (SELECT doc_id, list_filter(string_split_regex(t, '\\s+'),
                                 x -> x <> '') AS ws FROM sc),
c AS (SELECT doc_id, list_transform(
        range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT)),
        i -> array_to_string(ws[i*8+1 : i*8+8], ' ')) AS chunks FROM w),
e AS (SELECT doc_id, unnest(chunks) AS chunk,
             generate_subscripts(chunks, 1) AS pos FROM c),
cnt AS (SELECT chunk, count(*) AS nn FROM e GROUP BY chunk),
reb AS (
  SELECT e.doc_id,
         coalesce(string_agg(CASE WHEN cnt.nn <= 1 THEN e.chunk END,
                             ' ' ORDER BY e.pos), '') AS kept
  FROM e JOIN cnt USING (chunk) GROUP BY e.doc_id),
nz AS (SELECT doc_id, kept FROM reb WHERE kept <> ''),
fp AS (SELECT doc_id, kept,
              md5(regexp_replace(trim(lower(kept)), '\\s+', ' ', 'g'))
                AS f FROM nz),
canon AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f),
keepers AS (SELECT fp.doc_id, fp.kept FROM fp
            JOIN canon ON fp.doc_id = canon.doc_id AND fp.f = canon.f)
SELECT doc_id, md5(kept) AS clean_md5,
       CAST(len(list_filter(string_split_regex(lower(kept), '\\s+'),
                            x -> x <> '')) AS BIGINT) AS n_tokens
FROM keepers
""".replace("__PRED__", pred)


@query("training_recipe", oracle=None)  # oracle assembled above
def training_recipe(spark, sf_dir):
    """End-to-end corpus-prep recipe (pipeline/recipe.py): quality
    filter → language filter → PII scrub → cross-doc passage dedup →
    exact near-dup removal → stats. Every stage is the same operator
    the per-stage catalog queries prove; this query proves the
    composition."""
    from .pipeline.recipe import prepare_training_data
    docs = _t(spark, sf_dir, "documents")
    out = prepare_training_data(docs)
    return out.select("doc_id", F.md5("text").alias("clean_md5"),
                      "n_tokens")


ORACLES["training_recipe"] = _training_recipe_oracle()


@query("sql_summap", oracle=r"""
WITH per AS (
  SELECT l_returnflag, l_linenumber AS ln,
         CAST(CAST(sum(l_quantity) AS DECIMAL(38, 10)) AS DOUBLE) AS s
  FROM lineitem GROUP BY l_returnflag, l_linenumber)
SELECT l_returnflag,
       array_to_string(list(ln ORDER BY ln), ',') AS keys_csv,
       array_to_string(list_transform(list(s ORDER BY ln),
                  -- CH toString drops the trailing .0 on integral floats
                  x -> regexp_replace(CAST(round(x, 4) AS VARCHAR),
                                      '\.0$', '')),
                       ',') AS vals_csv
FROM per GROUP BY l_returnflag ORDER BY l_returnflag
""")
def sql_summap(spark, sf_dir):
    """sumMap aggregate: per-key sums returned as (sorted keys, values)
    tuple, projected to CSV strings for the driver canonicalizer (tuple
    form pinned in tests/test_functions_breadth)."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag,
               arrayStringConcat(arrayMap(v -> toString(v),
                 sumMap([l_linenumber], [l_quantity]).1), ',') AS keys_csv,
               arrayStringConcat(arrayMap(v -> toString(round(v, 4)),
                 sumMap([l_linenumber], [l_quantity]).2), ',') AS vals_csv
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """)


@query("sql_ttest", oracle="""
WITH g AS (
  SELECT l_returnflag,
         count(CASE WHEN l_linenumber % 2 = 0 THEN 1 END) AS n0,
         avg(CASE WHEN l_linenumber % 2 = 0 THEN l_extendedprice END) AS m0,
         var_samp(CASE WHEN l_linenumber % 2 = 0
                       THEN l_extendedprice END) AS v0,
         count(CASE WHEN l_linenumber % 2 = 1 THEN 1 END) AS n1,
         avg(CASE WHEN l_linenumber % 2 = 1 THEN l_extendedprice END) AS m1,
         var_samp(CASE WHEN l_linenumber % 2 = 1
                       THEN l_extendedprice END) AS v1
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       round((m0 - m1) / sqrt((((n0-1)*v0 + (n1-1)*v1) / (n0+n1-2))
             * (1.0/n0 + 1.0/n1)), 6) AS student_t,
       round((m0 - m1) / sqrt(v0/n0 + v1/n1), 6) AS welch_t
FROM g ORDER BY l_returnflag
""")
def sql_ttest(spark, sf_dir):
    """Two-sample t statistics per group, DuckDB-oracled through the
    closed-form pooled/unpooled formulas (p-values are pinned in pytest
    — DuckDB has no erf)."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag,
               round(studentTTest(l_extendedprice, l_linenumber % 2).1, 6)
                 AS student_t,
               round(welchTTest(l_extendedprice, l_linenumber % 2).1, 6)
                 AS welch_t
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """)


@query("sql_rank_corr", oracle="""
WITH r AS (
  SELECT l_returnflag,
         RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
           + (COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1)
             / 2.0 AS rx,
         RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
           + (COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
              - 1) / 2.0 AS ry
  FROM lineitem WHERE l_orderkey < 2000)
SELECT l_returnflag, round(corr(rx, ry), 6) AS rho
FROM r GROUP BY l_returnflag ORDER BY l_returnflag
""")
def sql_rank_corr(spark, sf_dir):
    """Spearman rank correlation (rankCorr) per group; the oracle
    computes Pearson over average ranks (RANK + tie-correction) —
    identical definition. rankCorr buffers the group and ranks with
    O(n²) in-row comparisons (CH buffers samples the same way), so the
    input is bounded here; the oracle's window-rank + corr formulation
    IS the scalable corpus-wide shape, expressible directly in the
    dialect as rank() OVER + corr()."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag,
               round(rankCorr(l_quantity, l_extendedprice), 6) AS rho
        FROM lineitem WHERE l_orderkey < 2000
        GROUP BY l_returnflag ORDER BY l_returnflag
    """)


@query("sql_assoc", oracle="""
WITH src AS (SELECT * FROM orders WHERE o_orderkey < 40000),
n AS (SELECT count(*) AS n FROM src),
cells AS (
  SELECT o_orderstatus AS a, o_orderpriority AS b, count(*) AS o
  FROM src GROUP BY o_orderstatus, o_orderpriority),
ma AS (SELECT a, sum(o) AS ca FROM cells GROUP BY a),
mb AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b),
chi AS (
  SELECT sum((c.o - CAST(ma.ca AS DOUBLE) * mb.cb / n.n)
             * (c.o - CAST(ma.ca AS DOUBLE) * mb.cb / n.n)
             / (CAST(ma.ca AS DOUBLE) * mb.cb / n.n)) AS chi2
  FROM cells c JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN n),
dims AS (SELECT (SELECT count(*) FROM ma) AS ka,
                (SELECT count(*) FROM mb) AS kb)
SELECT round(sqrt(chi.chi2 / n.n / least(dims.ka - 1, dims.kb - 1)), 6)
         AS cramers_v,
       round(sqrt(chi.chi2 / (n.n + chi.chi2)), 6) AS contingency_c
FROM chi CROSS JOIN n CROSS JOIN dims
""")
def sql_assoc(spark, sf_dir):
    """Categorical association between order status and priority:
    cramersV + contingency coefficient, oracled through the explicit
    chi-square contingency computation in SQL. The aggregates buffer
    the group (bounded input here); the oracle's groupBy-cells chi²
    IS the scalable formulation and is what a 100 TB run should use."""
    return _sql(spark, sf_dir, """
        SELECT round(cramersV(o_orderstatus, o_orderpriority), 6)
                 AS cramers_v,
               round(contingency(o_orderstatus, o_orderpriority), 6)
                 AS contingency_c
        FROM orders WHERE o_orderkey < 40000
    """)


@query("sql_truthy_predicates", oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_big,
       CAST(COUNT(*) FILTER (WHERE l_orderkey % 2 <> 0) AS BIGINT)
         AS n_odd,
       (CASE WHEN COUNT(*) > 100 THEN 1 ELSE 0 END)
       + (CASE WHEN SUM(l_quantity) > 0 THEN 1 ELSE 0 END) AS flags
FROM lineitem
WHERE l_linenumber % 2 <> 0
GROUP BY l_returnflag ORDER BY l_returnflag
""")
def sql_truthy_predicates(spark, sf_dir):
    """CH predicates are UInt8 numbers and any non-zero numeric is true
    in condition position (the reference's filter columns are UInt8 —
    src/Functions/FunctionsComparison.h result type): truthy WHERE
    (``WHERE l_linenumber % 2``), sum-of-predicate
    (``sum(l_quantity > 25)``), truthy countIf, and predicate
    arithmetic (``(a > b) + (c > d)``)."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag,
               sum(l_quantity > 25) AS n_big,
               countIf(l_orderkey % 2) AS n_odd,
               (count() > 100) + (sum(l_quantity) > 0) AS flags
        FROM lineitem
        WHERE l_linenumber % 2
        GROUP BY l_returnflag ORDER BY l_returnflag
    """)


@query("sql_string_search", oracle="""
SELECT doc_id,
       strpos(text, 'the') AS pos_the,
       CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT)
         AS n_e,
       array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ')
         AS first3
FROM documents WHERE doc_id < 50 ORDER BY doc_id
""")
def sql_string_search(spark, sf_dir):
    """String-search surface over real text: position (1-based, 0 when
    absent), countSubstrings (non-overlapping), substringIndex (prefix
    up to the Nth delimiter; whole string when fewer parts) — public CH
    string-search-functions contracts."""
    return _sql(spark, sf_dir, """
        SELECT doc_id,
               position(text, 'the') AS pos_the,
               toInt64(countSubstrings(text, 'e')) AS n_e,
               substringIndex(text, ' ', 3) AS first3
        FROM documents WHERE doc_id < 50 ORDER BY doc_id
    """)


@query("sql_interval_buckets", oracle="""
SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q,
       CAST(COUNT(*) AS BIGINT) AS c,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS rev
FROM orders GROUP BY q ORDER BY q
""")
def sql_interval_buckets(spark, sf_dir):
    """toStartOfInterval with month-class units returns Date and aligns
    to 1970-01 month arithmetic (CH date-time-functions) — the quarter
    rollup every reporting query uses. One shuffle on the bucket key,
    map-side combined."""
    return _sql(spark, sf_dir, """
        SELECT toStartOfInterval(o_orderdate, INTERVAL 1 QUARTER) AS q,
               count() AS c,
               toFloat64(sum(toDecimal64(o_totalprice, 4))) AS rev
        FROM orders GROUP BY q ORDER BY q
    """)


@query("sql_uniq_if_family", oracle="""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 25)
            AS BIGINT) AS u_big,
       CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_big,
       CAST(COUNT(DISTINCT l_linenumber)
            FILTER (WHERE l_quantity > 9000) AS BIGINT) AS u_none
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")
def sql_uniq_if_family(spark, sf_dir):
    """-If on the uniq family: the NULL-as-distinct flag must see only
    condition-matching rows — masked-out rows never add a phantom
    distinct value (uniqExactIf over zero matches is 0, not 1). TPC-H
    keys are non-null so DuckDB's FILTER COUNT(DISTINCT) is an exact
    oracle."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag,
               uniqExactIf(l_suppkey, l_quantity > 25) AS u_big,
               countIf(l_quantity > 25) AS n_big,
               uniqExactIf(l_linenumber, l_quantity > 9000) AS u_none
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """)


@query("sql_json_extraction", oracle="""
SELECT o_orderkey,
       CAST(json_extract_string(j, '$.status') AS VARCHAR) AS st,
       CAST(json_extract(j, '$.price') AS DOUBLE) AS pr
FROM (
  SELECT o_orderkey,
         '{"status":"' || o_orderstatus || '","price":' ||
         CAST(CAST(o_totalprice AS DECIMAL(18, 2)) AS VARCHAR) ||
         '}' AS j
  FROM orders WHERE o_orderkey < 200)
ORDER BY o_orderkey
""")
def sql_json_extraction(spark, sf_dir):
    """JSON extraction over per-row documents built from order fields
    (JSONExtractString / JSONExtractFloat with key paths) — the typed
    extract surface every log-processing query uses, oracled against
    DuckDB's JSON functions on identically constructed documents."""
    return _sql(spark, sf_dir, """
        SELECT o_orderkey,
               JSONExtractString(j, 'status') AS st,
               JSONExtractFloat(j, 'price') AS pr
        FROM (
          SELECT o_orderkey,
                 concat('{"status":"', o_orderstatus, '","price":',
                        toString(toDecimal64(o_totalprice, 2)), '}') AS j
          FROM orders WHERE o_orderkey < 200)
        ORDER BY o_orderkey
    """)


@query("sql_tostring_composites", oracle="""
SELECT l_orderkey,
       '[' || array_to_string(list(CAST(l_linenumber AS VARCHAR)
                                   ORDER BY l_linenumber), ',') || ']'
           AS lines_lit
FROM lineitem WHERE l_orderkey < 100
GROUP BY l_orderkey ORDER BY l_orderkey
""")
def sql_tostring_composites(spark, sf_dir):
    """toString over a composite renders the CH literal form ('[1,2]',
    no spaces) — pinned against a string-built DuckDB twin."""
    return _sql(spark, sf_dir, """
        SELECT l_orderkey,
               toString(arraySort(groupArray(l_linenumber))) AS lines_lit
        FROM lineitem WHERE l_orderkey < 100
        GROUP BY l_orderkey ORDER BY l_orderkey
    """)


@query("sql_group_array_param", oracle="""
SELECT l_linenumber,
       CAST(l_linenumber AS VARCHAR) || ',' || CAST(l_linenumber AS VARCHAR)
           AS ga2,
       array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS gua5,
       CAST(l_linenumber AS VARCHAR) || ',' || CAST(l_linenumber AS VARCHAR)
           AS gai2,
       count(*) AS n
FROM lineitem GROUP BY l_linenumber ORDER BY l_linenumber
""")
def sql_group_array_param(spark, sf_dir):
    """Parametric max_size forms groupArray(N)(x) / groupUniqArray(N)(x)
    / groupArrayIf(N)(x, cond) — the round-7 verdict's crash class
    (parametric grammar at reference
    src/Parsers/ExpressionElementParsers.cpp:766-876). Determinism for
    the oracle: ga2/gai2 collect a per-group CONSTANT (truncation length
    is what's pinned), gua5's distinct set (3 flags) fits under the cap
    and is sorted. Scale: one group-by shuffle, map-side partials."""
    return _sql(spark, sf_dir, """
        SELECT l_linenumber,
               arrayStringConcat(groupArray(2)(toString(l_linenumber)), ',')
                   AS ga2,
               arrayStringConcat(arraySort(groupUniqArray(5)(l_returnflag)),
                                 ',') AS gua5,
               arrayStringConcat(
                   groupArrayIf(2)(toString(l_linenumber), l_quantity >= 0),
                   ',') AS gai2,
               count() AS n
        FROM lineitem GROUP BY l_linenumber ORDER BY l_linenumber
    """)


@query("sql_arg_minmax_combinators", oracle="""
WITH m AS (
  SELECT l_returnflag AS f, MIN(l_linenumber) AS lo,
         MAX(l_linenumber) AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       ROUND(CAST(SUM(CASE WHEN l_linenumber = lo
                      THEN CAST(l_quantity AS DECIMAL(27,4)) END)
                  AS DOUBLE), 4) AS sum_at_min,
       ROUND(CAST(SUM(CASE WHEN l_linenumber = hi
                      THEN CAST(l_quantity AS DECIMAL(27,4)) END)
                  AS DOUBLE), 4) AS sum_at_max,
       CAST(COUNT(CASE WHEN l_linenumber = lo THEN 1 END) AS BIGINT)
           AS n_at_min
FROM lineitem JOIN m ON l_returnflag = m.f
GROUP BY l_returnflag ORDER BY l_returnflag
""")
def sql_arg_minmax_combinators(spark, sf_dir):
    """-ArgMin/-ArgMax combinators (round-8): the base aggregate over
    exactly the rows whose key column is the group's min/max —
    sumArgMin(qty, linenumber) = sum of qty on min-linenumber rows
    (aggregate-functions/combinators; grammar ref
    src/Parsers/ExpressionElementParsers.cpp:766-876). Scale: buffered
    per-group fold, one group-by shuffle."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag,
               round(sumArgMin(toFloat64(l_quantity), l_linenumber), 4)
                   AS sum_at_min,
               round(sumArgMax(toFloat64(l_quantity), l_linenumber), 4)
                   AS sum_at_max,
               countArgMin(l_linenumber) AS n_at_min
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """)


@query("sql_map_combinators", oracle="""
WITH per_key AS (
  SELECT l_linenumber AS ln, o_orderpriority AS k,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(ROUND(10000 * SUM(CAST(l_quantity AS DOUBLE)) / COUNT(*))
              AS BIGINT) AS avg_q4
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_linenumber, o_orderpriority
)
SELECT ln AS l_linenumber,
       string_agg(k || '=' || CAST(cnt AS VARCHAR), ','
                  ORDER BY k) AS counts,
       string_agg(k || '=' || CAST(avg_q4 AS VARCHAR), ','
                  ORDER BY k) AS avgs
FROM per_key GROUP BY ln ORDER BY ln
""")
def sql_map_combinators(spark, sf_dir):
    """Generic -Map combinator (round-8): countMap/avgMap apply the base
    per map KEY across the group (aggregate-functions/combinators#-map).
    Maps render as sorted key=value CSV for the driver canonicalizer
    (unhashable-cell rule); averages scale to 1e4-fixed integers so both
    engines render identically. Scale: per-group key-fold after one
    broadcast join + group-by shuffle."""
    return _sql(spark, sf_dir, """
        SELECT l_linenumber,
               arrayStringConcat(arrayMap(
                   k -> concat(k, '=', toString(cm[k])), mapKeys(cm)),
                   ',') AS counts,
               arrayStringConcat(arrayMap(
                   k -> concat(k, '=',
                               toString(toInt64(round(am[k] * 10000)))),
                   mapKeys(am)), ',') AS avgs
        FROM (
            SELECT l_linenumber,
                   countMap(map(o_orderpriority, l_quantity)) AS cm,
                   avgMap(map(o_orderpriority,
                              toFloat64(l_quantity))) AS am
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY l_linenumber
        ) ORDER BY l_linenumber
    """)


@query("sql_qualify_latest", oracle="""
SELECT user_id, event_id, value
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id) = 1
ORDER BY user_id LIMIT 500
""")
def sql_qualify_latest(spark, sf_dir):
    """QUALIFY clause (r12): post-window filter picking each user's
    latest event — the window analogue of HAVING. DuckDB runs the
    identical QUALIFY natively. Scale: one window shuffle on user_id,
    filter fused into the same stage."""
    return _sql(spark, sf_dir, """
        SELECT user_id, event_id, value
        FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id) = 1
        ORDER BY user_id LIMIT 500
    """)


@query("sql_windowed_uniq", oracle="""
SELECT event_id,
       CAST(SUM(is_first) OVER (PARTITION BY user_id ORDER BY ts,
            event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seen_types
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS is_first
  FROM events)
ORDER BY event_id LIMIT 2000
""")
def sql_windowed_uniq(spark, sf_dir):
    """uniqExact as a WINDOW function (round-8: composite aggregates
    get .over per leaf): cumulative distinct event types per user.
    DuckDB oracle counts first-occurrence markers (DISTINCT window
    aggregates are unsupported there too — the rewrite is exact).
    Scale: one window shuffle on user_id."""
    return _sql(spark, sf_dir, """
        SELECT event_id,
               uniqExact(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                   AS seen_types
        FROM events ORDER BY event_id LIMIT 2000
    """)


@query("sql_range_frame_temporal", oracle="""
SELECT event_id,
       ROUND(CAST(SUM(value) OVER (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
             AS DOUBLE), 4) AS trailing_hour
FROM events ORDER BY event_id LIMIT 2000
""")
def sql_range_frame_temporal(spark, sf_dir):
    """RANGE frame with a numeric bound over a DateTime ORDER BY —
    CH counts the offset in SECONDS (round-8: ordering rebased to epoch
    seconds; Spark rejects numeric bounds on timestamp order). DuckDB
    oracle speaks INTERVAL bounds natively. Scale: one window shuffle
    on user_id."""
    return _sql(spark, sf_dir, """
        SELECT event_id,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4)
                   AS trailing_hour
        FROM events ORDER BY event_id LIMIT 2000
    """)


@query("tfidf_top_terms", oracle="""
WITH toks AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
    FROM documents)
  WHERE length(t) >= 4
), per_doc AS (
  SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY doc_id, term
), dl AS (SELECT doc_id, SUM(tc) AS dl FROM per_doc GROUP BY doc_id),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
idf AS (
  SELECT term, ln((n.n + 1.0) / (count(DISTINCT doc_id) + 1)) + 1 AS idf
  FROM per_doc, n GROUP BY term, n.n
), ranked AS (
  SELECT p.doc_id, p.term,
         ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY
           ROUND((CAST(tc AS DOUBLE) / dl) * idf, 8) DESC, p.term) AS rn
  FROM per_doc p JOIN dl USING (doc_id) JOIN idf USING (term))
SELECT doc_id, string_agg(term, ',' ORDER BY rn) AS top_terms
FROM ranked WHERE rn <= 3 GROUP BY doc_id ORDER BY doc_id
""")
def tfidf_top_terms_q(spark, sf_dir):
    """TF-IDF top-3 terms per document (training-data relevance
    scoring; pipeline/text.py tfidf_top_terms). Smoothed idf =
    ln((N+1)/(df+1))+1, round-before-rank for cross-engine tie
    stability. Scale: (doc,term) and term-level partial-agg shuffles +
    one broadcast idf join — no driver materialization."""
    from .pipeline.text import tfidf_top_terms
    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3).orderBy("doc_id")


@query("embedding_quantized_topk", oracle="""
WITH quant AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(
             CAST(x AS DOUBLE) * 127.0 / amax) AS DOUBLE)) AS codes
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        y -> ABS(CAST(y AS DOUBLE)))) AS amax
        FROM embeddings)
), qq AS (SELECT vec_id AS query_id, codes AS qc
          FROM quant WHERE vec_id < 10),
scored AS (
  SELECT qq.query_id, c.vec_id,
         ROUND(CAST(list_cosine_similarity(c.codes, qq.qc) AS DOUBLE), 4)
             AS cos_sim
  FROM quant c CROSS JOIN qq WHERE c.vec_id <> qq.query_id)
SELECT query_id, vec_id, cos_sim FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY cos_sim DESC, vec_id) AS rn FROM scored)
WHERE rn <= 5 ORDER BY query_id, vec_id
""")
def embedding_quantized_topk_q(spark, sf_dir):
    """int8 scalar-quantized brute-force top-k (FAISS SQ8 analogue;
    pipeline/similarity.py quantize_embeddings/quantized_topk). The
    scales cancel in the cosine, so DuckDB recomputes the identical
    integer dot products over the same codes — exact oracle for the
    quantization + scan + ranking plumbing. Scale: codes are 4x
    smaller than float32; one corpus scan, broadcast queries."""
    from .pipeline.similarity import quantized_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.filter(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    return quantized_topk(emb, queries, k=5).orderBy("query_id", "vec_id")


@query("chunk_documents", oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> t <> '') AS tk
  FROM documents
), ch AS (
  SELECT doc_id, n.i AS chunk_idx,
         array_to_string(tk[n.i * 48 + 1 : n.i * 48 + 64], ' ')
             AS chunk_text
  FROM toks, LATERAL (
    SELECT unnest(range(CAST(GREATEST(
        CEIL((len(tk) - 16) / 48.0), 1) AS BIGINT))) AS i) n
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, chunk_text
FROM ch WHERE chunk_text <> '' ORDER BY doc_id, chunk_idx
""")
def chunk_documents_q(spark, sf_dir):
    """Fixed-token document chunking with overlap (context-window
    preprocessing; pipeline/text.py chunk_documents — 64-token chunks,
    16-token overlap, stride 48). Scale: pure narrow pass (split →
    sequence → slice → posexplode), zero shuffle before the sink."""
    from .pipeline.text import chunk_documents
    docs = _t(spark, sf_dir, "documents")
    return (chunk_documents(docs, "doc_id", "text",
                            chunk_tokens=64, overlap=16)
            .orderBy("doc_id", "chunk_idx"))


@query("sql_quantile_exc_inc", oracle="""
WITH g AS (
  SELECT l_returnflag AS f,
         list_sort(list(CAST(l_quantity AS DOUBLE))) AS a,
         count(*) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT f AS l_returnflag,
       ROUND(CASE WHEN 0.6 * (n + 1) <= 1 THEN a[1]
                  WHEN 0.6 * (n + 1) >= n THEN a[n]
                  ELSE a[CAST(floor(0.6 * (n + 1)) AS INT)]
                       + (0.6 * (n + 1) - CAST(floor(0.6 * (n + 1)) AS INT))
                         * (a[CAST(floor(0.6 * (n + 1)) AS INT) + 1]
                            - a[CAST(floor(0.6 * (n + 1)) AS INT)])
             END, 6) AS q_exc,
       ROUND(CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.6)
                  AS DOUBLE), 6) AS q_inc
FROM lineitem JOIN g ON l_returnflag = g.f
GROUP BY f, a, n ORDER BY f
""")
def sql_quantile_exc_inc(spark, sf_dir):
    """quantileExactExclusive/Inclusive — Excel R-6 / R-7 interpolation
    (CH docs quantileexactexclusive/-inclusive; parser arity via
    ``src/Parsers/ExpressionElementParsers.cpp:766-876``). Inclusive is
    DuckDB's ``quantile_cont``; Exclusive is hand-built R-6 in the
    oracle. Scale: one shuffle on the group key; the buffered sorted
    list is per-group (bounded group count), the same cost class CH
    pays for its exact quantiles."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag,
               round(quantileExactExclusive(0.6)(toFloat64(l_quantity)), 6)
                   AS q_exc,
               round(quantileExactInclusive(0.6)(toFloat64(l_quantity)), 6)
                   AS q_inc
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """)


@query("sql_edit_distances", oracle="""
SELECT p_partkey,
       levenshtein(p_brand, substr(p_type, 1, 10)) AS lev,
       damerau_levenshtein(p_brand, substr(p_type, 1, 10)) AS dl
FROM part WHERE p_partkey <= 500 ORDER BY p_partkey
""")
def sql_edit_distances(spark, sf_dir):
    """editDistance (JVM levenshtein) + damerauLevenshteinDistance
    (Arrow-batched unrestricted DL, matching DuckDB's
    damerau_levenshtein) over real part attributes — short bounded
    strings, per-row cost O(len²) identical to CH's own DP kernels."""
    return _sql(spark, sf_dir, """
        SELECT p_partkey,
               editDistance(p_brand, substring(p_type, 1, 10)) AS lev,
               damerauLevenshteinDistance(p_brand,
                                          substring(p_type, 1, 10)) AS dl
        FROM part WHERE p_partkey <= 500 ORDER BY p_partkey
    """)


@query("sql_byte_length", oracle="""
SELECT doc_id,
       strlen(text || 'é') AS blen,
       length(text || 'é') AS clen
FROM documents WHERE doc_id <= 200 ORDER BY doc_id
""")
def sql_byte_length(spark, sf_dir):
    """CH length(String) counts BYTES, lengthUTF8 code points (docs
    string-functions#length) — the appended two-byte 'é' makes the two
    differ on every row; DuckDB strlen/length are the same pair."""
    return _sql(spark, sf_dir, """
        SELECT doc_id,
               length(concat(text, 'é')) AS blen,
               lengthUTF8(concat(text, 'é')) AS clen
        FROM documents WHERE doc_id <= 200 ORDER BY doc_id
    """)


@query("sample_hash_md5", oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT
      < 429496729
""")
def sample_hash_md5(spark, sf_dir):
    """Deterministic twin of ``sample_hash``: the same hash-range
    SAMPLE 0.1 shape with the hash domain swapped to md5's first 32
    bits, which DuckDB recomputes byte-for-byte (xxhash64's domain is
    Spark-specific — that configuration stays a rows-only check)."""
    li = _t(spark, sf_dir, "lineitem")
    h = F.conv(F.substring(F.md5(F.col("l_orderkey").cast("string")),
                           1, 8), 16, 10).cast("long")
    return (li.filter(h < int(0.1 * 2**32))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 dsum(F.col("l_quantity")).alias("sum_qty")))


_MINHASH_MD5_SIG_SQL = """
WITH ws AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS w
  FROM documents
), toks AS (
  SELECT DISTINCT doc_id,
         w[g.i] || ' ' || w[g.i + 1] || ' ' || w[g.i + 2] AS w
  FROM ws, LATERAL (SELECT unnest(range(1, greatest(len(w) - 1, 1))) AS i) g
), sig AS (
  SELECT doc_id,
         MIN(md5(w || ':0')) AS h0, MIN(md5(w || ':1')) AS h1,
         MIN(md5(w || ':2')) AS h2, MIN(md5(w || ':3')) AS h3,
         MIN(md5(w || ':4')) AS h4, MIN(md5(w || ':5')) AS h5,
         MIN(md5(w || ':6')) AS h6, MIN(md5(w || ':7')) AS h7,
         MIN(md5(w || ':8')) AS h8, MIN(md5(w || ':9')) AS h9,
         MIN(md5(w || ':10')) AS h10, MIN(md5(w || ':11')) AS h11,
         MIN(md5(w || ':12')) AS h12, MIN(md5(w || ':13')) AS h13,
         MIN(md5(w || ':14')) AS h14, MIN(md5(w || ':15')) AS h15
  FROM toks GROUP BY doc_id
), band AS (
  SELECT doc_id, 0 AS b, h0 || h1 || h2 || h3 AS k FROM sig
  UNION ALL SELECT doc_id, 1, h4 || h5 || h6 || h7 FROM sig
  UNION ALL SELECT doc_id, 2, h8 || h9 || h10 || h11 FROM sig
  UNION ALL SELECT doc_id, 3, h12 || h13 || h14 || h15 FROM sig
)
"""


@query("dedup_minhash_md5", oracle=_MINHASH_MD5_SIG_SQL + """
, capped AS (
  SELECT * FROM band
  QUALIFY COUNT(*) OVER (PARTITION BY b, k) <= 10000
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM capped a JOIN capped b ON a.b = b.b AND a.k = b.k
                            AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
""")
def dedup_minhash_md5_q(spark, sf_dir):
    """Deterministic MinHash-LSH twin: md5-seeded 16-hash signatures,
    4 bands of 4, the SAME (band, bucket) shuffle + in-bucket pair
    combinatorics as ``dedup_minhash_lsh`` — pinned against a full
    DuckDB recomputation (pipeline/dedup.py minhash_md5_candidates).
    The oracle drops band buckets of more than 10000 docs before the
    self-join, as the kernel's default ``max_bucket_size`` does."""
    from .pipeline.dedup import minhash_md5_candidates

    docs = _t(spark, sf_dir, "documents")
    return minhash_md5_candidates(docs).orderBy("id_a", "id_b")


@query("sql_format_row", oracle="""
SELECT l_orderkey,
       CAST(l_orderkey AS VARCHAR) || ',"' || l_returnflag || '","' ||
       CAST(l_shipdate AS VARCHAR) || '"' AS csv_row,
       '(' || CAST(l_orderkey AS VARCHAR) || ',''' || l_returnflag ||
       ''')' AS values_row
FROM lineitem WHERE l_orderkey <= 100 AND l_linenumber = 1
ORDER BY l_orderkey
""")
def sql_format_row(spark, sf_dir):
    """formatRowNoNewline('CSV'/'Values', ...) — the per-row text-format
    kernel (a JVM expression over the same cell serializers as FORMAT
    output and INTO OUTFILE) pinned against string-built DuckDB twins."""
    return _sql(spark, sf_dir, """
        SELECT l_orderkey,
               formatRowNoNewline('CSV', l_orderkey, l_returnflag,
                                  toString(l_shipdate)) AS csv_row,
               formatRowNoNewline('Values', l_orderkey, l_returnflag)
                   AS values_row
        FROM lineitem WHERE l_orderkey <= 100 AND l_linenumber = 1
        ORDER BY l_orderkey
    """)


@query("sql_join_default_any", oracle="""
SELECT n_nationkey, n_name, s_name
FROM nation JOIN (
  SELECT * FROM (
    SELECT s_nationkey, s_name,
           ROW_NUMBER() OVER (PARTITION BY s_nationkey
                              ORDER BY s_suppkey) AS rn
    FROM supplier) t WHERE rn = 1
) s ON n_nationkey = s.s_nationkey
ORDER BY n_nationkey
""")
def sql_join_default_any(spark, sf_dir):
    """join_default_strictness='ANY' (Settings.h:226) makes a BARE join
    dedupe the right side to one deterministic row per key — the r10
    verdict's silent-wrong-results item: before r11 the setting was
    swallowed and the bare JOIN kept ALL multiplicity. The oracle picks
    the same per-key row (min under the all-columns order the engine's
    _dedupe_one_per_key window uses, where s_suppkey leads)."""
    return _sql(spark, sf_dir, """
        SELECT n_nationkey, n_name, s_name
        FROM nation JOIN supplier ON n_nationkey = s_nationkey
        ORDER BY n_nationkey
        SETTINGS join_default_strictness = 'ANY'
    """)


@query("sql_union_default_mode", oracle="""
SELECT c_nationkey AS nk FROM customer
UNION
SELECT s_nationkey AS nk FROM supplier
""")
def sql_union_default_mode(spark, sf_dir):
    """union_default_mode='DISTINCT' (Settings.h:491) resolves a BARE
    UNION — which, at the default empty value, raises
    EXPECTED_ALL_OR_DISTINCT instead of silently meaning ALL (r11)."""
    return _sql(spark, sf_dir, """
        SELECT c_nationkey AS nk FROM customer
        UNION
        SELECT s_nationkey AS nk FROM supplier
        SETTINGS union_default_mode = 'DISTINCT'
    """)


@query("sql_limit_offset_settings", oracle="""
SELECT n_nationkey, n_name FROM nation
ORDER BY n_nationkey LIMIT 5 OFFSET 3
""")
def sql_limit_offset_settings(spark, sf_dir):
    """The limit/offset SETTINGS (Settings.h:501-502) window the FINAL
    result on top of the query's own clauses — honored since r11."""
    return _sql(spark, sf_dir, """
        SELECT n_nationkey, n_name FROM nation
        ORDER BY n_nationkey
        SETTINGS limit = 5, offset = 3
    """)


@query("sql_count_distinct_impl", oracle="""
SELECT l_returnflag, COUNT(DISTINCT l_linestatus) AS u
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")
def sql_count_distinct_impl(spark, sf_dir):
    """count_distinct_implementation='uniq' (Settings.h:210) routes
    count(DISTINCT) through the HLL family — exact at these small
    cardinalities (rsd 0.01 ≙ CH uniqCombined's linear-counting mode),
    so the exact DuckDB oracle must match."""
    return _sql(spark, sf_dir, """
        SELECT l_returnflag, count(DISTINCT l_linestatus) AS u
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        SETTINGS count_distinct_implementation = 'uniq'
    """)


@query("sql_any_take_last", oracle="""
SELECT n_nationkey, n_name, s_name
FROM nation JOIN (
  SELECT * FROM (
    SELECT s_nationkey, s_name,
           ROW_NUMBER() OVER (PARTITION BY s_nationkey
                              ORDER BY s_suppkey DESC) AS rn
    FROM supplier) t WHERE rn = 1
) s ON n_nationkey = s.s_nationkey
ORDER BY n_nationkey
""")
def sql_any_take_last(spark, sf_dir):
    """join_any_take_last_row=1 (Settings.h:332) flips the ANY-join
    winner to the LAST row under the deterministic all-columns order
    (s_suppkey leads) — the oracle picks per-key max s_suppkey."""
    return _sql(spark, sf_dir, """
        SELECT n_nationkey, n_name, s_name
        FROM nation ANY JOIN supplier ON n_nationkey = s_nationkey
        ORDER BY n_nationkey
        SETTINGS join_any_take_last_row = 1
    """)


@query("sql_group_bitmap", oracle="""
SELECT o_orderstatus,
       COUNT(DISTINCT o_orderpriority) AS bm,
       COUNT(DISTINCT CAST(o_custkey % 8 AS BIGINT)) AS bm2
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""")
def sql_group_bitmap(spark, sf_dir):
    """groupBitmap(expr) = cardinality of the value bitmap (published
    bitmap-aggregate contract) — two bitmaps per group, both against
    exact COUNT(DISTINCT) oracles."""
    return _sql(spark, sf_dir, """
        SELECT o_orderstatus,
               groupBitmap(o_orderpriority) AS bm,
               groupBitmap(o_custkey % 8) AS bm2
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """)


@query("sql_reinterpret_wrap", oracle="""
SELECT l_linenumber,
       CAST(((l_suppkey % 256) + 256) % 256 AS BIGINT) AS u8,
       CAST((((l_suppkey % 65536) + 65536 + 32768) % 65536) - 32768
            AS BIGINT) AS i16
FROM lineitem WHERE l_orderkey <= 200 AND l_linenumber = 1
ORDER BY l_suppkey LIMIT 50
""")
def sql_reinterpret_wrap(spark, sf_dir):
    """reinterpretAsUInt8/Int16 over NUMERIC inputs keep the bytes
    (arithmetic wrap; the r11 fix — previously the digit string was
    parsed) — pinned against DuckDB modular arithmetic."""
    return _sql(spark, sf_dir, """
        SELECT l_linenumber,
               reinterpretAsUInt8(l_suppkey) AS u8,
               reinterpretAsInt16(l_suppkey) AS i16
        FROM lineitem WHERE l_orderkey <= 200 AND l_linenumber = 1
        ORDER BY l_suppkey LIMIT 50
    """)


@query("stratified_split", oracle="""
SELECT CASE
  WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':v1'), 1, 4) < 'e666'
    THEN 'train'
  WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':v1'), 1, 4) < 'f333'
    THEN 'val'
  ELSE 'test' END AS split,
  COUNT(*) AS n, CAST(SUM(LENGTH(text)) AS BIGINT) AS chars
FROM documents GROUP BY 1 ORDER BY split
""")
def stratified_split_q(spark, sf_dir):
    """Deterministic train/val/test split (pipeline/split.py): md5-hex
    range assignment, map-only (no shuffle) — the DuckDB oracle
    recomputes the exact same labels from the same md5 prefix, so
    membership is pinned value-for-value, not just by proportion."""
    from .pipeline.split import stratified_split
    docs = _t(spark, sf_dir, "documents")
    return (stratified_split(docs, key="doc_id")
            .groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.length("text")).alias("chars"))
            .orderBy("split"))


@query("pack_sequences", oracle="""
WITH toks AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), pos AS (
  SELECT doc_id, shard, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS start_tok
  FROM toks
), packed AS (
  SELECT shard, n_tokens,
         CAST(FLOOR(start_tok / 512.0) AS BIGINT) AS pack,
         CASE WHEN FLOOR((start_tok + n_tokens - 1) / 512.0)
                   > FLOOR(start_tok / 512.0) THEN 1 ELSE 0 END AS straddles
  FROM pos
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(pack) + 1 AS BIGINT) AS n_packs,
       CAST(SUM(straddles) AS BIGINT) AS n_straddles,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM packed GROUP BY shard ORDER BY shard
""")
def pack_sequences_q(spark, sf_dir):
    """Sequence packing (pipeline/pack.py): GPT-style concatenate-and-
    cut at a fixed token budget, computed as a per-shard window cumsum
    — one shuffle on shard, no global sort, no driver state. The DuckDB
    oracle recomputes the identical window, so pack ids and straddle
    counts are pinned value-for-value."""
    from .pipeline.pack import pack_stats
    docs = _t(spark, sf_dir, "documents")
    return pack_stats(docs, budget=512, n_shards=8)


@query("domain_mix_sample", oracle="""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':v1'), 1, 4) <
  CASE source
    WHEN 'src0' THEN '1eb8'
    WHEN 'src1' THEN '8000'
    WHEN 'src2' THEN 'fff9'
    ELSE 'cccd' END
GROUP BY source ORDER BY source
""")
def domain_mix_sample_q(spark, sf_dir):
    """Domain-mixture sampling (pipeline/mix.py): per-source keep rates
    decided by the md5-hex-threshold device — deterministic, map-only,
    pushdown-friendly (the filter is a scan predicate, not a sampler
    with state). The oracle recomputes identical membership: src0 at
    12%, src1 at 50%, src2 at ~100%, everything else at 80%."""
    from .pipeline.mix import domain_mix
    docs = _t(spark, sf_dir, "documents")
    kept = domain_mix(docs, {"src0": 0.12, "src1": 0.5, "src2": 0.9999},
                      default_rate=0.8)
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("source"))


@query("decontaminate_ngram", oracle="""
WITH ws AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         md5(w[g.i] || ' ' || w[g.i + 1] || ' ' || w[g.i + 2]) AS g
  FROM ws, LATERAL (SELECT unnest(range(1, greatest(len(w) - 1, 1))) AS i) g
), bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
)
SELECT d.doc_id, CAST(COUNT(DISTINCT d.g) AS BIGINT) AS n_matches
FROM grams d JOIN bench USING (g)
GROUP BY d.doc_id HAVING COUNT(DISTINCT d.g) >= 2
ORDER BY d.doc_id
""")
def decontaminate_ngram_q(spark, sf_dir):
    """Benchmark decontamination (pipeline/decontaminate.py): documents
    sharing >= 2 distinct 3-gram md5 keys with the benchmark subset
    (doc_id % 97 = 0). The benchmark gram set broadcasts; the corpus
    side is one exploded-gram join + per-doc count — never all-pairs.
    The production path uses xxhash64 shingles; this md5 twin is
    recomputed verbatim by DuckDB."""
    from .pipeline.decontaminate import contamination
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return (contamination(docs, bench, n=3, min_matches=2, hash="md5")
            .orderBy("doc_id"))


@query("dsir_select_linear", oracle="""
WITH raw_feats AS (
  SELECT doc_id, substr(md5(f), 1, 3) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS f
        FROM documents)
  GROUP BY doc_id, bucket
), tgt AS (
  SELECT substr(md5(f), 1, 3) AS bucket, CAST(COUNT(*) AS BIGINT) AS t_n
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS f
        FROM documents WHERE source = 'src0')
  GROUP BY bucket
), rawb AS (
  SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS r_n FROM raw_feats GROUP BY bucket
), buckets AS (
  SELECT COALESCE(r.bucket, t.bucket) AS bucket,
         COALESCE(r_n, 0) AS r_n, COALESCE(t_n, 0) AS t_n
  FROM rawb r FULL OUTER JOIN tgt t ON r.bucket = t.bucket
), tot AS (
  SELECT CAST(SUM(r_n) + 4096 AS BIGINT) AS R,
         CAST(SUM(t_n) + 4096 AS BIGINT) AS T
  FROM buckets
), w AS (
  SELECT bucket, CAST((t_n + 1) * R - (r_n + 1) * T AS BIGINT) AS w
  FROM buckets, tot
)
SELECT f.doc_id,
       CAST(CAST(SUM(f.cnt * w.w) AS BIGINT) AS DOUBLE)
         / CAST(SUM(f.cnt) AS DOUBLE) AS score
FROM raw_feats f JOIN w ON f.bucket = w.bucket
GROUP BY f.doc_id
ORDER BY score DESC, f.doc_id
LIMIT 20
""")
def dsir_select_linear_q(spark, sf_dir):
    """DSIR-style data selection (pipeline/dsir.py): top-20 raw docs
    whose hashed-unigram distribution best matches the target corpus
    (source='src0'), scored with the integer-exact linear variant so
    DuckDB recomputes every score bit-for-bit. Plan shape: one explode
    + (doc,bucket) groupBy, 4096-row bucket-weight broadcast join, one
    doc groupBy, TakeOrdered top-k — no all-pairs, no driver state.
    Scores are length-normalized (integer sum / token count — IEEE
    division, still bit-exact across engines). The production path is
    mode='log' (published DSIR weights), same plan with float
    weights."""
    from .pipeline.dsir import dsir_select
    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    return dsir_select(docs, target, k=20, mode="linear")


@query("sql_histogram_invariants", oracle="""
SELECT 5 AS nbins, CAST(COUNT(*) AS DOUBLE) AS total_height
FROM documents
""")
def sql_histogram_invariants(spark, sf_dir):
    """histogram(5)(n_chars) structural invariants: the adaptive-bin
    merge yields exactly N bins (corpus cardinality >> N) and bin
    heights sum to the row count — the oracle-able half of the
    (lower, upper, height) triple contract (exact bin edges come from
    a streaming merge and are engine-specific)."""
    from .plans.engine import execute_sql
    tables = {"documents": _t(spark, sf_dir, "documents")}
    return execute_sql(
        spark,
        "SELECT length(h) AS nbins, "
        "round(arraySum(x -> x.3, h), 3) AS total_height FROM "
        "(SELECT histogram(5)(n_chars) AS h FROM documents)",
        tables)


@query("sql_anova_f", oracle="""
WITH g AS (
  SELECT source, COUNT(*) AS n, AVG(CAST(n_chars AS DOUBLE)) AS m,
         SUM((CAST(n_chars AS DOUBLE) - (SELECT AVG(CAST(n_chars AS DOUBLE))
              FROM documents d2 WHERE d2.source = d1.source)) ^ 2) AS ssw_g
  FROM documents d1 GROUP BY source
), tot AS (
  SELECT COUNT(*) AS n_tot, AVG(CAST(n_chars AS DOUBLE)) AS gm,
         COUNT(DISTINCT source) AS k
  FROM documents
)
SELECT ROUND(
  (SELECT SUM(n * (m - gm) * (m - gm)) FROM g, tot) / ((SELECT k FROM tot) - 1)
  / ((SELECT SUM(ssw_g) FROM g) / ((SELECT n_tot FROM tot) - (SELECT k FROM tot))),
  6) AS f_stat
""")
def sql_anova_f(spark, sf_dir):
    """analysisOfVariance over n_chars grouped by source: the F
    statistic is exact closed-form arithmetic over group moments, so
    DuckDB recomputes it to 6 decimals (the p-value is the documented
    Paulson approximation and stays out of the oracle)."""
    from .plans.engine import execute_sql
    tables = {"documents": _t(spark, sf_dir, "documents")}
    return execute_sql(
        spark,
        "SELECT round(analysisOfVariance(toFloat64(n_chars), "
        "src_idx).1, 6) AS f_stat FROM "
        "(SELECT n_chars, dense_rank() OVER (ORDER BY source) - 1 "
        "AS src_idx FROM documents)",
        tables)
