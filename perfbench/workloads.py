"""The three workloads as ClickHouse SQL text.

Each workload is a pool of rounds drawn from the seed. A round is a
list of statements a single client sends one after another; the runner
cycles through the pool. A statement carries its DuckDB spelling when
one exists, and the runner checks its result against that. Every other
statement must reproduce the result of its first execution.

``ingest_dedup`` rounds are cycles that start with TRUNCATE and repeat
the same statements, so every cycle starts from the same table state and
must reproduce the first cycle's results.
"""

from __future__ import annotations

import json
import zlib
from dataclasses import dataclass

import numpy as np

from inputs import (DAY_US, EVENT_EPOCH, N_CUSTOMER, N_DOCUMENTS, N_ORDERS,
                  N_USERS, REGIONS, SEGMENTS)


@dataclass(frozen=True)
class Stmt:
    kind: str          # statement class, e.g. "point_orders" or "optimize"
    sql: str           # ClickHouse SQL sent to ChSession.execute
    oracle: str | None = None  # DuckDB spelling of the same result


# Tables each workload registers from the generated parquet files.
TABLES = {
    "lookup": ["orders", "lineitem", "customer", "events"],
    "analytic": ["region", "nation", "customer", "supplier", "orders",
                 "lineitem", "events", "documents"],
    "ingest_dedup": ["lineitem", "documents"],
}

# Rounds per pool. Lookup keys and analytic parameters change from round
# to round, so a run repeats a statement text only after the pool wraps.
POOL_ROUNDS = {"lookup": 24, "analytic": 4, "ingest_dedup": 1}


def _ts(us: int) -> str:
    t = EVENT_EPOCH + np.timedelta64(int(us), "us")
    return str(t.astype("datetime64[s]")).replace("T", " ")


def lookup_round(rng: np.random.Generator, table: str) -> list[Stmt]:
    ok = int(rng.integers(0, N_ORDERS))
    lk = int(rng.integers(0, N_ORDERS))
    ck = int(rng.integers(0, N_CUSTOMER - 5))
    rk = int(rng.integers(0, N_ORDERS - 8))
    user = int(rng.integers(0, N_USERS))
    day = int(rng.integers(0, 27)) * DAY_US
    t0, t1 = _ts(day), _ts(day + 3 * DAY_US)
    orders_cols = ("SELECT o_orderkey, o_custkey, o_orderstatus, "
                   "o_totalprice, o_orderdate, o_orderpriority FROM orders "
                   f"WHERE o_orderkey = {ok}")
    customer = ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment "
                f"FROM customer WHERE c_custkey BETWEEN {ck} AND {ck + 4}")
    lines = ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
             f"l_shipdate FROM lineitem WHERE l_orderkey = {lk}")
    orders_range = ("SELECT o_orderkey, o_totalprice, o_orderdate FROM orders "
                    f"WHERE o_orderkey >= {rk} AND o_orderkey < {rk + 8}")
    events = ("SELECT event_id, ts, event_type, value FROM events "
              f"WHERE user_id = {user} AND ts >= {{}}'{t0}'{{}} "
              f"AND ts < {{}}'{t1}'{{}}")
    return [
        Stmt("point_orders", orders_cols, orders_cols),
        Stmt("lines_of_order", lines + " ORDER BY l_linenumber", lines),
        Stmt("customer_range", customer, customer),
        Stmt("orders_range", orders_range + " ORDER BY o_orderkey",
             orders_range),
        Stmt("user_events",
             events.format("toDateTime(", ")", "toDateTime(", ")")
             + " ORDER BY ts",
             events.format("TIMESTAMP ", "", "TIMESTAMP ", "")),
        Stmt("show_tables", "SHOW TABLES"),
        Stmt("describe", f"DESCRIBE TABLE {table}"),
        Stmt("system_tables",
             "SELECT name, engine FROM system.tables "
             "WHERE database = 'default' ORDER BY name"),
        Stmt("system_columns",
             "SELECT name, type FROM system.columns "
             f"WHERE table = '{table}' ORDER BY name"),
    ]


def _dsum(expr: str, scale: int, ch: bool) -> str:
    """An exact decimal sum returned as a double, in either dialect."""
    inner = f"sum(CAST({expr} AS Decimal(27,{scale})))"
    return f"toFloat64({inner})" if ch else f"CAST({inner} AS DOUBLE)"


def _date_cmp(col: str, op: str, day: str, ch: bool) -> str:
    if ch:
        return f"{col} {op} toDate('{day}')"
    return f"CAST({col} AS DATE) {op} DATE '{day}'"


def analytic_round(rng: np.random.Generator) -> list[Stmt]:
    delta = int(rng.integers(60, 121))
    ship_cut = np.datetime64("1998-12-01") - np.timedelta64(delta, "D")
    seg = str(rng.choice(SEGMENTS))
    q3_day = f"1995-03-{int(rng.integers(1, 32)):02d}"
    region = str(rng.choice(REGIONS))
    year = int(rng.integers(1993, 1998))
    cust_lo = int(rng.integers(0, N_CUSTOMER - 1000))
    users_hi = int(rng.integers(200, N_USERS))
    day = int(rng.integers(0, 20))
    h0, h1 = _ts(day * DAY_US), _ts((day + 10) * DAY_US)
    doc_lo = int(rng.integers(0, N_DOCUMENTS - 2000))
    disc = "l_extendedprice*(1-l_discount)"

    def q1(ch: bool) -> str:
        return (
            "SELECT l_returnflag, l_linestatus, "
            f"{_dsum('l_quantity', 4, ch)} AS sum_qty, "
            f"{_dsum('l_extendedprice', 4, ch)} AS sum_base_price, "
            f"{_dsum(disc, 6, ch)} AS sum_disc_price, "
            f"{_dsum(disc + '*(1+l_tax)', 6, ch)} AS sum_charge, "
            "count(*) AS count_order FROM lineitem "
            f"WHERE {_date_cmp('l_shipdate', '<=', ship_cut, ch)} "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus")

    def q3(ch: bool) -> str:
        fmt = "formatDateTime" if ch else "strftime"
        return (f"SELECT l_orderkey, {_dsum(disc, 6, ch)} AS revenue, "
                f"{fmt}(o_orderdate, '%Y-%m-%d') AS orderdate "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                f"WHERE c_mktsegment = '{seg}' "
                f"AND {_date_cmp('o_orderdate', '<', q3_day, ch)} "
                f"AND {_date_cmp('l_shipdate', '>', q3_day, ch)} "
                "GROUP BY l_orderkey, o_orderdate "
                "ORDER BY revenue DESC, l_orderkey LIMIT 10")

    def q5(ch: bool) -> str:
        lo, hi = f"{year}-01-01", f"{year + 1}-01-01"
        return (f"SELECT n_name, {_dsum(disc, 6, ch)} AS revenue "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                "JOIN supplier ON l_suppkey = s_suppkey "
                "AND c_nationkey = s_nationkey "
                "JOIN nation ON s_nationkey = n_nationkey "
                "JOIN region ON n_regionkey = r_regionkey "
                f"WHERE r_name = '{region}' "
                f"AND {_date_cmp('o_orderdate', '>=', lo, ch)} "
                f"AND {_date_cmp('o_orderdate', '<', hi, ch)} "
                "GROUP BY n_name ORDER BY revenue DESC")

    def window(ch: bool) -> str:
        run = ("toFloat64(sum(CAST(o_totalprice AS Decimal(18,2))) OVER w)"
               if ch else
               "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)")
        return ("SELECT o_orderkey, o_custkey, rank() OVER w AS rnk, "
                f"{run} AS run_price FROM orders "
                f"WHERE o_custkey BETWEEN {cust_lo} AND {cust_lo + 999} "
                "WINDOW w AS (PARTITION BY o_custkey "
                "ORDER BY o_orderdate, o_orderkey) ORDER BY o_orderkey")

    return [
        Stmt("tpch_q1", q1(True), q1(False)),
        Stmt("tpch_q3", q3(True), q3(False)),
        Stmt("tpch_q5", q5(True), q5(False)),
        Stmt("named_window", window(True), window(False)),
        Stmt("limit_by",
             "SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders "
             f"WHERE {_date_cmp('o_orderdate', '>=', f'{year}-01-01', True)} "
             "ORDER BY o_totalprice DESC, o_orderkey LIMIT 3 BY o_orderpriority",
             "SELECT o_orderpriority, o_orderkey, o_totalprice FROM ("
             "SELECT *, row_number() OVER (PARTITION BY o_orderpriority "
             "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders "
             f"WHERE {_date_cmp('o_orderdate', '>=', f'{year}-01-01', False)}"
             ") WHERE rn <= 3"),
        Stmt("asof_join",
             "SELECT event_id, user_id, signup_event_id FROM "
             "(SELECT user_id, ts, event_id FROM events "
             f"WHERE event_type = 'purchase' AND user_id < {users_hi}) p "
             "ASOF LEFT JOIN (SELECT user_id, ts, event_id AS signup_event_id "
             "FROM events WHERE event_type = 'signup') s USING (user_id, ts) "
             "ORDER BY event_id",
             "SELECT p.event_id, p.user_id, s.event_id AS signup_event_id FROM "
             "(SELECT * FROM events WHERE event_type = 'purchase' "
             f"AND user_id < {users_hi}) p "
             "ASOF LEFT JOIN (SELECT * FROM events "
             "WHERE event_type = 'signup') s "
             "ON p.user_id = s.user_id AND p.ts >= s.ts"),
        Stmt("final",
             "SELECT user_id, event_id, event_type, value FROM events FINAL "
             f"WHERE user_id < {users_hi}",
             "SELECT user_id, event_id, event_type, value FROM ("
             "SELECT *, row_number() OVER (PARTITION BY user_id "
             "ORDER BY ts DESC, event_id DESC) AS rn FROM events) "
             f"WHERE rn = 1 AND user_id < {users_hi}"),
        Stmt("hourly_uniq",
             "SELECT toStartOfHour(ts) AS hour, event_type, "
             "uniqExact(user_id) AS users, count() AS n FROM events "
             f"WHERE ts >= toDateTime('{h0}') AND ts < toDateTime('{h1}') "
             "GROUP BY hour, event_type ORDER BY hour, event_type",
             "SELECT date_trunc('hour', ts) AS hour, event_type, "
             "count(DISTINCT user_id) AS users, count(*) AS n FROM events "
             f"WHERE ts >= TIMESTAMP '{h0}' AND ts < TIMESTAMP '{h1}' "
             "GROUP BY ALL"),
        Stmt("doc_strings",
             "SELECT doc_id, upper(substring(text, 1, 12)) AS head, "
             "length(text) AS len, position(text, 'spark') AS pos, "
             "toInt64(countSubstrings(text, 'e')) AS n_e, "
             "substringIndex(text, ' ', 3) AS first3, "
             "replaceAll(text, 'data', 'DATA') AS marked FROM documents "
             f"WHERE doc_id BETWEEN {doc_lo} AND {doc_lo + 1999} "
             "ORDER BY doc_id",
             "SELECT doc_id, upper(substr(text, 1, 12)) AS head, "
             "length(text) AS len, strpos(text, 'spark') AS pos, "
             "CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) "
             "AS n_e, array_to_string(list_slice(string_split(text, ' '), "
             "1, 3), ' ') AS first3, replace(text, 'data', 'DATA') AS marked "
             f"FROM documents WHERE doc_id BETWEEN {doc_lo} AND {doc_lo + 1999}"),
    ]


# DDL the ingest workload runs once per process, before warm-up.
INGEST_DDL = [
    "CREATE TABLE li_rmt (k Int64, ln Int32, qty Float64, price Float64, "
    "ver UInt32) ENGINE = ReplacingMergeTree(ver) ORDER BY (k, ln)",
    "CREATE TABLE docs (doc_id Int64, text String) "
    "ENGINE = MergeTree ORDER BY doc_id",
]


def _rows(rng: np.random.Generator, lo: int, hi: int, n: int, ver: int):
    return [{"k": int(k), "ln": int(ln), "qty": int(q), "price": round(p, 2),
             "ver": ver}
            for k, ln, q, p in zip(rng.integers(lo, hi, n),
                                   rng.integers(1, 8, n),
                                   rng.integers(1, 51, n),
                                   rng.uniform(900, 105_000, n))]


def ingest_round(rng: np.random.Generator) -> list[Stmt]:
    lo = int(rng.integers(0, N_ORDERS - 6000))
    hi = lo + 6000
    doc_lo = int(rng.integers(0, N_DOCUMENTS - 2000))
    # Float64 literals keep their decimal point: the engine rejects a
    # whole-number literal for a Float64 column in INSERT VALUES
    values = ", ".join(
        f"({r['k']}, {r['ln']}, {r['qty']:.1f}, {r['price']:.2f}, 3)"
        for r in _rows(rng, lo, hi, 40, 3))
    json_rows = " ".join(json.dumps(r) for r in _rows(rng, lo, hi, 40, 4))
    return [
        Stmt("truncate_li", "TRUNCATE TABLE li_rmt"),
        Stmt("insert_select_li",
             "INSERT INTO li_rmt SELECT l_orderkey AS k, l_linenumber AS ln, "
             "l_quantity AS qty, l_extendedprice AS price, 1 AS ver "
             f"FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {hi}"),
        # VALUES and JSON rows reuse slice keys with newer versions, so
        # FINAL and OPTIMIZE ... FINAL have rows to collapse
        Stmt("insert_values", f"INSERT INTO li_rmt VALUES {values}"),
        Stmt("insert_json", f"INSERT INTO li_rmt FORMAT JSONEachRow {json_rows}"),
        Stmt("select_final",
             "SELECT intDiv(k, 500) AS b, count() AS n, "
             "toFloat64(sum(CAST(price AS Decimal(27,2)))) AS price, "
             "max(ver) AS ver FROM li_rmt FINAL GROUP BY b ORDER BY b"),
        Stmt("optimize", "OPTIMIZE TABLE li_rmt FINAL"),
        Stmt("truncate_docs", "TRUNCATE TABLE docs"),
        Stmt("insert_select_docs", "INSERT INTO docs SELECT doc_id, text "
             f"FROM documents WHERE doc_id >= {doc_lo} "
             f"AND doc_id < {doc_lo + 2000}"),
        Stmt("dedup_exact", "SELECT * FROM dedupExact(docs)"),
        Stmt("dedup_minhash", "SELECT * FROM dedupMinHash(docs)"),
        Stmt("dedup_simhash", "SELECT * FROM dedupSimHash(docs)"),
    ]


def make_pool(workload: str, seed: int) -> list[list[Stmt]]:
    """The seeded rounds of one workload."""
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    n = POOL_ROUNDS[workload]
    if workload == "lookup":
        # metadata statements cycle through the tables in a fixed order,
        # so every seed measures the same statement mix
        tables = TABLES["lookup"]
        return [lookup_round(rng, tables[i % len(tables)]) for i in range(n)]
    if workload == "analytic":
        return [analytic_round(rng) for _ in range(n)]
    return [ingest_round(rng) for _ in range(n)]
