"""Correctness/benchmark query suite.

Every entry exercises one operator family from SURVEY.md §2 through the
renoir_spark fluent API and has a DuckDB-equivalent oracle SQL string.
Contract (driver): per query, row-count + schema + order-insensitive
value-hash must match at sf0.01.

Float discipline: every float the query COMPUTES (sum/avg/ratio) is rounded
identically on both sides, so engine-order-of-summation noise in the last
ulp cannot flip the hash. Time arithmetic is done in exact epoch integers
or in epoch doubles derived the same way on both engines.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .context import StreamContext
from .iteration import loop_partitions
from .util import count_rows
from .window import (
    AllWindow,
    CountWindow,
    EventTimeWindow,
    LastKWindow,
    ProcessingTimeWindow,
    SessionWindow,
    TransactionWindow,
)

# canonical Unicode lowercasing shared with the early oracles (the full
# datapipe oracle-generator import block sits with its query section)
from .datapipe import sql_lower_canon  # noqa: E402


def _ctx(spark: SparkSession) -> StreamContext:
    return StreamContext(spark)


def _t(ctx: StreamContext, sf_dir: str, name: str):
    s = ctx.stream_parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # stored as TIMESTAMP(NANOS) → normalize to µs-truncated
        # TIMESTAMP exactly like DuckDB's nanos→micros parquet read
        # (util.normalize_event_ts handles every session-conf variant)
        from .util import normalize_event_ts

        s = ctx.from_df(normalize_event_ts(s.df))
    return s


def _money(*cols: str):
    """Money columns as the TPC-H decimal(15,2). A sum of their products
    is exact, so the rounded cent cannot depend on the order the engine
    adds in (a double sum on a .xx5 boundary rounds either way); the
    oracles cast the same way."""
    return [F.col(c).cast("decimal(15,2)") for c in cols]


def _round_money(total):
    """An exact decimal money sum rounded to cents, as a double."""
    return F.round(total, 2).cast("double")


# --------------------------------------------------------------------- #
# relational core (M0-M2)
# --------------------------------------------------------------------- #

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (TPC-H Q1 shape): filter → group_by → multi-agg fold.
    Operators: stream_parquet, filter, group_by, fold (SURVEY §2.1/2.3/2.5)."""
    ctx = _ctx(spark)
    price, disc, tax = _money("l_extendedprice", "l_discount", "l_tax")
    return (
        _t(ctx, sf_dir, "lineitem")
        .filter("l_shipdate <= timestamp'1998-09-02 00:00:00'")
        .group_by("l_returnflag", "l_linestatus")
        .fold(
            sum_qty=F.round(F.sum("l_quantity"), 2),
            sum_base_price=F.round(F.sum("l_extendedprice"), 2),
            sum_disc_price=_round_money(F.sum(price * (1 - disc))),
            sum_charge=_round_money(F.sum(price * (1 - disc) * (1 + tax))),
            avg_qty=F.round(F.avg("l_quantity"), 6),
            avg_price=F.round(F.avg("l_extendedprice"), 6),
            avg_disc=F.round(F.avg("l_discount"), 6),
            count_order=F.count(F.lit(1)),
        )
        .df
    )


ORACLE_Q01 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                      * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2)
            AS DOUBLE)                                                  AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                      * (1 - CAST(l_discount AS DECIMAL(15,2)))
                      * (1 + CAST(l_tax AS DECIMAL(15,2)))), 2)
            AS DOUBLE)                                                  AS sum_charge,
       round(avg(l_quantity), 6)                                        AS avg_qty,
       round(avg(l_extendedprice), 6)                                   AS avg_price,
       round(avg(l_discount), 6)                                        AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q02_group_by_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_by_sum convenience (src/operator/mod.rs:1467-1498)."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "orders")
        .group_by("o_orderpriority")
        .sum(F.col("o_totalprice"), alias="total")
        .map("o_orderpriority", total=F.round(F.col("total"), 2))
        .df
    )


ORACLE_Q02 = """
SELECT o_orderpriority, round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY o_orderpriority
"""


def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + group + top-k (TPC-H Q3 shape). Operators: join,
    group_by+fold, sorted_limit_by (§2.6/2.7)."""
    ctx = _ctx(spark)
    cust = _t(ctx, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'")
    orders = _t(ctx, sf_dir, "orders").filter(
        "o_orderdate < timestamp'1998-03-15 00:00:00'"
    )
    li = _t(ctx, sf_dir, "lineitem").filter(
        "l_shipdate > timestamp'1996-03-15 00:00:00'"
    )
    price, disc = _money("l_extendedprice", "l_discount")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .group_by("o_orderkey")
        .fold(revenue=_round_money(F.sum(price * (1 - disc))))
        .sorted_limit_by([F.col("revenue").desc(), F.col("o_orderkey")], 10)
        .df
    )


ORACLE_Q03 = """
SELECT o_orderkey,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                      * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2)
            AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q04_left_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join (src/operator/join/mod.rs:163-179): customers with
    their order count, zero included."""
    ctx = _ctx(spark)
    cust = _t(ctx, sf_dir, "customer")
    orders = _t(ctx, sf_dir, "orders")
    return (
        cust.left_join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .group_by("c_custkey")
        .fold(n_orders=F.count("o_orderkey"))
        .df
    )


ORACLE_Q04 = """
SELECT c_custkey, count(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def q05_broadcast_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join chain through dimensions — renoir
    ``ship_broadcast_right`` (src/operator/join/mod.rs:320-324): the fact
    table never shuffles; every dim ships to it."""
    ctx = _ctx(spark)
    li = _t(ctx, sf_dir, "lineitem")
    sup = _t(ctx, sf_dir, "supplier")
    nat = _t(ctx, sf_dir, "nation")
    reg = _t(ctx, sf_dir, "region")
    price, disc = _money("l_extendedprice", "l_discount")
    return (
        li.join_with(sup, "l_suppkey", "s_suppkey").ship_broadcast_right().inner()
        .join_with(nat, "s_nationkey", "n_nationkey").ship_broadcast_right().inner()
        .join_with(reg, "n_regionkey", "r_regionkey").ship_broadcast_right().inner()
        .group_by("r_name", "n_name")
        .fold(revenue=_round_money(F.sum(price * (1 - disc))))
        .df
    )


ORACLE_Q05 = """
SELECT r_name, n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                      * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem, supplier, nation, region
WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q06_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global terminal fold (TPC-H Q6 shape) — renoir ``fold_assoc``
    (src/operator/mod.rs:771-780): pushdown-friendly filters + single-row agg."""
    ctx = _ctx(spark)
    price, disc = _money("l_extendedprice", "l_discount")
    return (
        _t(ctx, sf_dir, "lineitem")
        .filter(
            "l_shipdate >= timestamp'1996-01-01 00:00:00' AND "
            "l_shipdate < timestamp'1997-01-01 00:00:00' AND "
            "l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
        )
        .fold(revenue=_round_money(F.sum(price * disc)))
        .df
    )


ORACLE_Q06 = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                      * CAST(l_discount AS DECIMAL(15,2))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q07_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unique_assoc (src/operator/mod.rs:951-979) → partial-distinct plan."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "lineitem")
        .map("l_returnflag", "l_linestatus")
        .unique_assoc()
        .df
    )


ORACLE_Q07 = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def q08_argmax_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_by_max_element (src/operator/mod.rs:1418-1434) →
    ``max_by(struct, key)`` with a deterministic composite tie-break."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "customer")
        .map("c_nationkey", "c_custkey", "c_name", "c_acctbal")
        .group_by("c_nationkey")
        .max_element(F.struct("c_acctbal", "c_custkey"))
        .map("c_nationkey", "c_custkey", "c_name", bal=F.round(F.col("c_acctbal"), 2))
        .df
    )


ORACLE_Q08 = """
SELECT c_nationkey, c_custkey, c_name, round(c_acctbal, 2) AS bal
FROM (
  SELECT *, row_number() OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
  FROM customer
) WHERE rn = 1
"""


def q09_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flat_map tokenization + group_by_count — the renoir README wordcount
    (src/lib.rs:22-56; flat_map src/operator/mod.rs:1158-1166)."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        # documents.parquet is one small-but-dense file → 1 input split;
        # redistribute BEFORE tokenization so explode+agg use the full
        # cluster instead of one task (the 100 TB version of this scan
        # has many splits, but never rely on it).
        .shuffle()
        .flat_map(F.split(lower_canon(F.col("text")), " "), alias="word")
        .filter("word <> ''")
        .group_by("word")
        .count(alias="cnt")
        .df
    )


ORACLE_Q09 = f"""
SELECT word, count(*) AS cnt
FROM (SELECT unnest(string_split({sql_lower_canon('text')}, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
"""


def q10_line_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed fold_scan (src/operator/mod.rs:2954-3010) = per-key two-pass
    scan → ONE window aggregate, no self-join: each line's share of its
    order's revenue."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "lineitem")
        .group_by("l_orderkey")
        .fold_scan(
            {"order_rev": F.sum("l_extendedprice")},
            lambda agg: [
                F.col("l_orderkey"),
                F.col("l_linenumber"),
                F.round(F.col("l_extendedprice") / agg["order_rev"], 9).alias("share"),
            ],
        )
        .df
    )


ORACLE_Q10 = """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice / sum(l_extendedprice) OVER (PARTITION BY l_orderkey), 9) AS share
FROM lineitem
"""


def q11_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time band join — renoir ``interval_join``
    (src/operator/mod.rs:1738-1755). Bucketed equi-join on
    (user_id, time-bucket) + residual band filter; exact µs arithmetic."""
    ctx = _ctx(spark)
    ev = _t(ctx, sf_dir, "events").map("event_id", "ts", "user_id", "event_type")
    other = _t(ctx, sf_dir, "events").map("event_id", "ts", "user_id")
    joined = ev.key_by("user_id").interval_join(
        other.key_by("user_id"), left_ts="ts", right_ts="ts",
        lower=3600.0, upper=3600.0,
    )
    return (
        joined.filter("event_id <> event_id_r")
        .group_by("event_type")
        .count(alias="n_pairs")
        .df
    )


ORACLE_Q11 = """
SELECT a.event_type, count(*) AS n_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts BETWEEN a.ts - INTERVAL 1 HOUR AND a.ts + INTERVAL 1 HOUR
 AND a.event_id <> b.event_id
GROUP BY a.event_type
"""


def q12_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional zip (src/operator/mod.rs:2003-2017): rank-aligned pairing
    of top customers with suppliers; truncates to the shorter side."""
    ctx = _ctx(spark)
    cust = (
        _t(ctx, sf_dir, "customer")
        .sorted_limit_by([F.col("c_acctbal").desc(), F.col("c_custkey")], 10)
        .map("c_name", "c_acctbal", "c_custkey")
    )
    sup = _t(ctx, sf_dir, "supplier").map("s_name", "s_acctbal", "s_suppkey")
    return (
        cust.zip(
            sup,
            order=[F.col("c_acctbal").desc(), F.col("c_custkey")],
            other_order=[F.col("s_acctbal").desc(), F.col("s_suppkey")],
        )
        .map("c_name", "s_name")
        .df
    )


ORACLE_Q12 = """
WITH c AS (
  SELECT c_name, row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM (SELECT * FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 10)
), s AS (
  SELECT s_name, row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS rn
  FROM supplier
)
SELECT c_name, s_name FROM c JOIN s USING (rn)
"""


def q13_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (src/operator/window/descr/session.rs:67-76): per
    user, 30-minute-gap sessions with event count and duration.

    Time arithmetic is EXACT integer epoch-µs on both engines (``__sts``
    is a LONG; DuckDB side uses epoch_us) — no float representation in
    the hashed output, so the driver hash is bit-stable."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "events")
        .key_by("user_id")
        .window(SessionWindow("ts", gap=1800.0))
        .fold(
            n_events=F.count(F.lit(1)),
            dur_us=F.max("__sts") - F.min("__sts"),
        )
        .df
    )


ORACLE_Q13 = """
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
), labelled AS (
  SELECT user_id, us,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       max(us) - min(us) AS dur_us
FROM labelled GROUP BY user_id, session_id
"""


def q14_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based tumbling windows (src/operator/window/descr/count.rs:
    99-131): per user, windows of exactly 5 events by event_id order."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "events")
        .key_by("user_id")
        .window(CountWindow.tumbling("event_id", size=5, exact=True))
        .fold(avg_value=F.round(F.avg("value"), 6))
        .df
    )


ORACLE_Q14 = """
WITH pos AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS p
  FROM events
)
SELECT user_id, p // 5 AS window_id, round(avg(value), 6) AS avg_value
FROM pos GROUP BY user_id, p // 5 HAVING count(*) = 5
"""


def q15_last_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LastK trailing window (src/operator/window/descr/last_k.rs:90-105)
    = sliding row frame: 5-event moving average per user."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "events")
        .key_by("user_id")
        .window(LastKWindow("event_id", 5))
        .fold(mavg=F.avg("value"))
        .map("event_id", "user_id", mavg=F.round(F.col("mavg"), 6))
        .df
    )


ORACLE_Q15 = """
SELECT event_id, user_id,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS mavg
FROM events
"""


def q16_event_time_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window (src/operator/window/descr/event_time.rs:
    112-129): daily per-type counts + volume."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "events")
        .key_by("event_type")
        .window(EventTimeWindow.tumbling("ts", 86400.0))
        .fold(n=F.count(F.lit(1)), vol=F.round(F.sum("value"), 2))
        .map(
            "event_type",
            win_s=F.col("win_start").cast("long"),
            n=F.col("n"),
            vol=F.col("vol"),
        )
        .df
    )


ORACLE_Q16 = """
SELECT event_type,
       CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS win_s,
       count(*) AS n, round(sum(value), 2) AS vol
FROM events GROUP BY event_type, win_s
"""


def q17_event_time_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (2-day size, 1-day slide): multi-assignment
    via the built-in ``F.window``."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "events")
        .key_by("event_type")
        .window(EventTimeWindow.sliding("ts", 172800.0, 86400.0))
        .fold(n=F.count(F.lit(1)))
        .map("event_type", win_s=F.col("win_start").cast("long"), n=F.col("n"))
        .df
    )


ORACLE_Q17 = """
SELECT event_type,
       CAST(w * 86400 AS BIGINT) AS win_s,
       count(*) AS n
FROM (
  SELECT event_type,
         unnest([floor(epoch(ts)/86400) - 1, floor(epoch(ts)/86400)]) AS w
  FROM events
)
GROUP BY event_type, w
"""


def q18_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sorted_by + limit(n, offset) (src/operator/mod.rs:1276-1286)."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "orders")
        .map("o_orderkey", "o_totalprice")
        .sorted_by("o_orderkey")
        .limit(100, offset=50)
        .map("o_orderkey", price=F.round(F.col("o_totalprice"), 2))
        .df
    )


ORACLE_Q18 = """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY o_orderkey LIMIT 100 OFFSET 50
"""


def q19_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-match routing (src/operator/route.rs:33-56): branch 2 =
    not-urgent AND high-value; grouped count proves the exclusion."""
    ctx = _ctx(spark)
    branches = (
        _t(ctx, sf_dir, "orders")
        .route()
        .add_route(F.col("o_orderpriority") == "1-URGENT")
        .add_route(F.col("o_totalprice") > 200000.0)
        .add_route(F.lit(True))
        .build(persist=False)
    )
    return branches[1].group_by("o_orderstatus").count(alias="n").df


ORACLE_Q19 = """
SELECT o_orderstatus, count(*) AS n
FROM orders
WHERE NOT (o_orderpriority = '1-URGENT') AND o_totalprice > 200000.0
GROUP BY o_orderstatus
"""


def q20_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge/union (src/operator/merge.rs:41-57), duplicates preserved."""
    ctx = _ctx(spark)
    a = _t(ctx, sf_dir, "lineitem").filter("l_returnflag = 'R'").map(
        "l_returnflag", "l_linestatus"
    )
    b = _t(ctx, sf_dir, "lineitem").filter("l_linestatus = 'F'").map(
        "l_returnflag", "l_linestatus"
    )
    return (
        a.merge(b)
        .group_by("l_returnflag", "l_linestatus")
        .count(alias="n")
        .df
    )


ORACLE_Q20 = """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM (
  SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_returnflag = 'R'
  UNION ALL
  SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_linestatus = 'F'
)
GROUP BY l_returnflag, l_linestatus
"""


def q21_sort_merge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_with(...).local_sort_merge() (src/operator/join/ship.rs:99-110)
    → merge-join hint; results identical, strategy forced."""
    ctx = _ctx(spark)
    orders = _t(ctx, sf_dir, "orders")
    li = _t(ctx, sf_dir, "lineitem")
    return (
        orders.join_with(li, "o_orderkey", "l_orderkey")
        .ship_hash()
        .local_sort_merge()
        .inner()
        .group_by("o_orderpriority")
        .fold(n_lines=F.count(F.lit(1)), qty=F.round(F.sum("l_quantity"), 2))
        .df
    )


ORACLE_Q21 = """
SELECT o_orderpriority, count(*) AS n_lines, round(sum(l_quantity), 2) AS qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


def q22_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (src/operator/join/mod.rs:212-228): order counts per
    customer from both sides, nulls where unmatched."""
    ctx = _ctx(spark)
    big_cust = (
        _t(ctx, sf_dir, "orders")
        .group_by("o_custkey")
        .fold(n_orders=F.count(F.lit(1)))
        .filter("n_orders >= 12")
    )
    rich_cust = (
        _t(ctx, sf_dir, "customer").filter("c_acctbal > 9000").map("c_custkey", "c_name")
    )
    return (
        big_cust.join_with(rich_cust, "o_custkey", "c_custkey")
        .ship_hash()
        .outer()
        .map(
            key=F.coalesce(F.col("o_custkey"), F.col("c_custkey")),
            n_orders=F.col("n_orders"),
            c_name=F.col("c_name"),
        )
        .df
    )


ORACLE_Q22 = """
WITH big AS (
  SELECT o_custkey, count(*) AS n_orders FROM orders
  GROUP BY o_custkey HAVING count(*) >= 12
), rich AS (
  SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000
)
SELECT coalesce(o_custkey, c_custkey) AS key, n_orders, c_name
FROM big FULL OUTER JOIN rich ON o_custkey = c_custkey
"""


def q23_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window_join (src/operator/window/aggr/join.rs:79): purchases joined
    with errors of the same user in the same daily window."""
    ctx = _ctx(spark)
    ev = _t(ctx, sf_dir, "events")
    purchases = ev.filter("event_type = 'purchase'").map(
        "user_id", "ts", pid=F.col("event_id")
    ).key_by("user_id")
    errors = ev.filter("event_type = 'error'").map(
        "user_id", "ts", eid=F.col("event_id")
    ).key_by("user_id")
    return (
        purchases.window(EventTimeWindow.tumbling("ts", 86400.0))
        .window_join(errors)
        .map(
            "user_id",
            win_s=F.col("win_start").cast("long"),
            pid=F.col("pid"),
            eid=F.col("eid"),
        )
        .df
    )


ORACLE_Q23 = """
SELECT a.user_id,
       CAST(floor(epoch(a.ts)/86400)*86400 AS BIGINT) AS win_s,
       a.event_id AS pid, b.event_id AS eid
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND floor(epoch(a.ts)/86400) = floor(epoch(b.ts)/86400)
WHERE a.event_type = 'purchase' AND b.event_type = 'error'
"""


def q24_global_fold_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global fold_scan (src/operator/mod.rs:856-907): normalize every
    order's price by the global mean — agg → broadcast → map, 2 passes."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "orders")
        .fold_scan(
            {"mean_price": F.avg("o_totalprice")},
            lambda agg: [
                F.col("o_orderkey"),
                F.round(F.col("o_totalprice") / agg["mean_price"], 9).alias("rel_price"),
            ],
        )
        .df
    )


ORACLE_Q24 = """
SELECT o_orderkey,
       round(o_totalprice / avg(o_totalprice) OVER (), 9) AS rel_price
FROM orders
"""


# --------------------------------------------------------------------- #
# iteration (SURVEY §2.9, M5)
# --------------------------------------------------------------------- #

def _graph(ctx: StreamContext, sf_dir: str):
    """Undirected test graph from the TPC-H-ish tables: vertex ids are
    nations (n), regions (100+r), customers (1000+c); edges nation—region
    and customer—nation. Five components (one per region), min label
    reachable in 3 hops — deep enough to exercise real propagation."""
    nation = _t(ctx, sf_dir, "nation").df
    region = _t(ctx, sf_dir, "region").df
    customer = _t(ctx, sf_dir, "customer").df
    verts = (
        nation.select(F.col("n_nationkey").cast("long").alias("v"))
        .unionAll(region.select((F.col("r_regionkey") + 100).cast("long").alias("v")))
        .unionAll(customer.select((F.col("c_custkey") + 1000).cast("long").alias("v")))
    )
    e0 = nation.select(
        F.col("n_nationkey").cast("long").alias("src"),
        (F.col("n_regionkey") + 100).cast("long").alias("dst"),
    ).unionAll(
        customer.select(
            (F.col("c_custkey") + 1000).cast("long").alias("src"),
            F.col("c_nationkey").cast("long").alias("dst"),
        )
    )
    edges = e0.unionAll(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return verts, edges


def q25_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components — renoir ``delta_iterate``
    (src/operator/iteration/iterate_delta.rs:104-140; example
    examples/connected_components.rs): per-vertex min-label propagation,
    emitting only CHANGED labels as deltas; loop ends when no deltas.

    Scale: each round is one shuffle (groupBy dst, min) + one
    key-partitioned merge join — the Pregel plan; the invariant edge set
    is cached once (side-input caching, src/stream.rs:213-228)."""
    ctx = _ctx(spark)
    verts, edges = _graph(ctx, sf_dir)
    edges = edges.persist()
    n_edges = count_rows(edges)

    init = ctx.from_df(verts.withColumn("comp", F.col("v"))).key_by("v")

    def body(state, _it):
        # the (small, invariant) edge side broadcasts: the per-round state
        # never shuffles for this join — only the groupBy(dst) exchanges
        cand = (
            state.df.join(F.broadcast(edges), state.df["v"] == edges["src"])
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min("comp").alias("new_comp"))
        )
        delta = (
            cand.join(state.df, "v")
            .filter(F.col("new_comp") < F.col("comp"))
            .select("v", F.col("new_comp").alias("comp"))
        )
        return ctx.from_df(delta)

    # loop shuffles sized to the edge volume, not the session default
    final = init.delta_iterate(
        20, body, shuffle_partitions=loop_partitions(spark, n_edges)
    )
    # the returned state is a materialized checkpoint: nothing reads the
    # edge cache any more, so release it instead of leaking it
    edges.unpersist()
    return final.df.select("v", "comp")


ORACLE_Q25 = """
WITH rmin AS (
  SELECT n_regionkey AS rk, min(n_nationkey) AS comp
  FROM nation GROUP BY n_regionkey
)
SELECT CAST(v AS BIGINT) AS v, CAST(comp AS BIGINT) AS comp FROM (
  SELECT n_nationkey AS v, rmin.comp AS comp
  FROM nation JOIN rmin ON n_regionkey = rmin.rk
  UNION ALL
  SELECT 100 + r_regionkey AS v, rmin.comp
  FROM region JOIN rmin ON r_regionkey = rmin.rk
  UNION ALL
  SELECT 1000 + c_custkey AS v, rmin.comp
  FROM customer JOIN nation ON c_nationkey = n_nationkey
                JOIN rmin ON n_regionkey = rmin.rk
)
"""


def q26_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, d=0.85) — renoir ``iterate``
    (src/operator/iteration/iterate.rs:306-439; example
    examples/pagerank.rs:42-70): ranks fed back each round; the oracle
    unrolls the same three iterations in SQL.

    The graph is bidirectional so no vertex dangles; contributions are
    one groupBy-sum per round over edges pre-joined with out-degrees
    (cached invariant side)."""
    ctx = _ctx(spark)
    verts, edges = _graph(ctx, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ew = edges.join(deg, "src").persist()
    verts = verts.persist()
    n = verts.count()
    if n == 0:  # empty graph: no ranks, keep the output schema
        ew.unpersist()
        out = verts.withColumn("rank", F.lit(0.0)).select("v", "rank")
        verts.unpersist()
        return out

    init = ctx.from_df(verts.withColumn("r", F.lit(1.0 / n)))

    def body(s, _handle):
        contrib = (
            s.df.join(ew, s.df["v"] == ew["src"])
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum(F.col("r") / F.col("deg")).alias("c"))
        )
        new = verts.join(contrib, "v", "left").select(
            "v",
            (F.lit(0.15 / n) + F.lit(0.85) * F.coalesce(F.col("c"), F.lit(0.0))).alias("r"),
        )
        return ctx.from_df(new)

    _state, ranks = init.iterate(3, 0, body, lambda st, _df: st + 1,
                                 shuffle_partitions=8)
    # ranks is a materialized checkpoint (see q25)
    ew.unpersist()
    verts.unpersist()
    return ranks.df.select("v", F.round("r", 9).alias("rank"))


ORACLE_Q26 = """
WITH v AS (
  SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation
  UNION ALL SELECT CAST(100 + r_regionkey AS BIGINT) FROM region
  UNION ALL SELECT CAST(1000 + c_custkey AS BIGINT) FROM customer
), e0 AS (
  SELECT CAST(n_nationkey AS BIGINT) AS src,
         CAST(100 + n_regionkey AS BIGINT) AS dst FROM nation
  UNION ALL
  SELECT CAST(1000 + c_custkey AS BIGINT), CAST(c_nationkey AS BIGINT)
  FROM customer
), e AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
n AS (SELECT count(*) AS cnt FROM v),
r0 AS (SELECT id, 1.0 / (SELECT cnt FROM n) AS r FROM v),
r1 AS (
  SELECT v.id,
         (SELECT 0.15 / cnt FROM n)
         + 0.85 * coalesce(c.s, 0) AS r
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(r0.r / deg.d) AS s
    FROM e JOIN r0 ON e.src = r0.id JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) c ON v.id = c.id
), r2 AS (
  SELECT v.id,
         (SELECT 0.15 / cnt FROM n)
         + 0.85 * coalesce(c.s, 0) AS r
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(r1.r / deg.d) AS s
    FROM e JOIN r1 ON e.src = r1.id JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) c ON v.id = c.id
), r3 AS (
  SELECT v.id,
         (SELECT 0.15 / cnt FROM n)
         + 0.85 * coalesce(c.s, 0) AS r
  FROM v LEFT JOIN (
    SELECT e.dst AS id, sum(r2.r / deg.d) AS s
    FROM e JOIN r2 ON e.src = r2.id JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) c ON v.id = c.id
)
SELECT id AS v, round(r, 9) AS rank FROM r3
"""


# --------------------------------------------------------------------- #
# LLM-data-pipeline operators (north star, datapipe.py)
# --------------------------------------------------------------------- #

def q27_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup over documents ∪ whitespace-perturbed copies
    (the crawl-duplicate shape): normalization must collapse the copies,
    keep = min doc_id. Operators: merge, dedup_exact (datapipe.py)."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text", "n_chars")
    dups = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id") + 100000,
        text=F.concat(F.lit("  "), F.col("text"), F.lit("   ")),
        n_chars=F.col("n_chars"),
    )
    return (
        docs.merge(dups)
        .dedup_exact("text", order=["doc_id"])
        .map("doc_id", "n_chars")
        .df
    )


from .datapipe import (  # noqa: E402  (oracle generators share constants)
    sql_ann_cosine_brute,
    sql_ann_cosine_ivf,
    sql_ann_cosine_lsh,
    sql_ann_cosine_ivf_sq8,
    sql_ann_cosine_sq8,
    sql_dedup_against,
    sql_approx_distinct_kmv,
    sql_dedup_embedding,
    sql_dedup_embedding_ivf,
    sql_dedup_exact,
    sql_dedup_cluster_minhash,
    sql_dedup_minhash,
    sql_dedup_simhash,
    sql_duplicate_span_fraction,
    sql_longest_duplicate_span,
    lower_canon,
    sql_lang_id,
    sql_similar_pairs_ngram,
    sql_text_stats,
    sql_token_count,
    sql_fingerprint_winnow,
)

_Q27_INPUT = """(
  SELECT doc_id, text, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 100000, '  ' || text || '   ', n_chars FROM documents
)"""

ORACLE_Q27 = sql_dedup_exact(_Q27_INPUT, "text", "doc_id", "doc_id, n_chars")


def q28_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup dedup over documents ∪ one-token-appended
    copies (Jaccard ≈ 0.9): banded signatures → bucket equi-join →
    exact-Jaccard verify → greedy keep-min-id. The oracle mirrors the
    identical minhash math (shared md5-based hash + constants), so the
    LSH recall behavior itself is verified, not just the end filter."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    dups = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id") + 100000,
        text=F.concat_ws(" ", F.col("text"), F.lit("zzz")),
    )
    return (
        docs.merge(dups)
        # single-file scan → spread the minhash computation across the
        # cluster before the expression-heavy signature stage
        .shuffle()
        .dedup_minhash("text", "doc_id", threshold=0.6)
        .map("doc_id")
        .df
    )


_Q28_INPUT = """(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text || ' zzz' FROM documents
)"""

ORACLE_Q28 = sql_dedup_minhash(_Q28_INPUT, "text", "doc_id", "doc_id", threshold=0.6)


def q29_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics (counts, ratios, min-5-gram
    fingerprint, quality score) — all Column expressions, no shuffle."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .map("doc_id", "text")
        .text_stats("text")
        .map(
            "doc_id", "stat_chars", "stat_tokens", "stat_avg_token_len",
            "stat_stopword_ratio", "stat_punct_ratio", "stat_fingerprint",
            "stat_quality",
        )
        .df
    )


ORACLE_Q29 = sql_text_stats("documents", "text", "doc_id")


def q30_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language id (stopword scoring, fixed precedence) grouped
    against the stored lang label."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .map("doc_id", "lang", "text")
        # single-file scan → parallelize the tokenize/score projection
        .shuffle()
        .lang_id("text")
        .group_by("lang", "pred_lang")
        .count(alias="n")
        .df
    )


ORACLE_Q30 = f"""
SELECT lang, pred_lang, count(*) AS n
FROM ({sql_lang_id('documents', 'text', 'doc_id, lang')})
GROUP BY lang, pred_lang
"""


def q33_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup dedup over documents ∪ one-token-appended copies:
    48-bit signatures over 3-gram shingle features, 4 bands for
    candidates, Hamming ≤ 3 verify, keep-min-id. Oracle mirrors the
    identical bit math."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    dups = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id") + 100000,
        text=F.concat_ws(" ", F.col("text"), F.lit("zzz")),
    )
    return (
        docs.merge(dups)
        .shuffle()
        .dedup_simhash("text", "doc_id", bits=48, bands=4, max_hamming=3)
        .map("doc_id")
        .df
    )


ORACLE_Q33 = sql_dedup_simhash(
    _Q28_INPUT, "text", "doc_id", "doc_id", bits=48, bands=4, max_hamming=3
)


def q34_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard similarity JOIN (inverted index, df-cutoff): all
    pairs with shingle-Jaccard ≥ 0.5 among documents ∪ perturbed copies.
    No signatures — the shingle itself is the join key."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    dups = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id") + 100000,
        text=F.concat_ws(" ", F.col("text"), F.lit("zzz")),
    )
    return (
        docs.merge(dups)
        .shuffle()
        .similar_pairs_ngram("text", "doc_id", shingle_n=5, threshold=0.5, max_df=20)
        .df
    )


ORACLE_Q34 = sql_similar_pairs_ngram(
    _Q28_INPUT, "text", "doc_id", shingle_n=5, threshold=0.5, max_df=20
)


def q35_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup over embeddings ∪ positively
    scaled copies (cosine exactly 1 with their originals, same LSH bucket
    by sign-invariance): drop the larger id of any bucket pair with
    cosine ≥ 0.95."""
    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings").map("vec_id", "embedding")
    scaled = _t(ctx, sf_dir, "embeddings").map(
        vec_id=F.col("vec_id") + 100000,
        embedding=F.transform("embedding", lambda x: x * F.lit(1.5)),
    )
    return (
        emb.merge(scaled)
        # single-file scans → spread the norm/bucket signature stage
        .shuffle()
        .dedup_embedding(threshold=0.95, n_planes=8)
        .map("vec_id")
        .df
    )


_Q35_INPUT = """(
  SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding, x -> x * 1.5)
  FROM embeddings
)"""

ORACLE_Q35 = sql_dedup_embedding(_Q35_INPUT, "vec_id", threshold=0.95, n_planes=8)


def q31_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors for 8 query vectors: broadcast
    queries × corpus, JVM-side fold dot products, per-query ranking."""
    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings")
    queries = _t(ctx, sf_dir, "embeddings").filter("vec_id < 8")
    return emb.ann_cosine(queries, method="brute", k=3).df


ORACLE_Q31 = sql_ann_cosine_brute("embeddings", "vec_id < 8", k=3)


def q32_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed cosine top-3 (sign-hyperplane signatures, bucket
    equi-join): the 100 TB path — corpus shuffles once on the bucket id.
    The oracle mirrors the same deterministic hyperplanes."""
    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings")
    queries = _t(ctx, sf_dir, "embeddings").filter("vec_id < 8")
    return emb.ann_cosine(queries, method="lsh", k=3, n_planes=6).df


ORACLE_Q32 = sql_ann_cosine_lsh("embeddings", "vec_id < 8", k=3, n_planes=6)


# --------------------------------------------------------------------- #
# coverage queries for previously-untested operators (VERDICT r1 item 5)
# --------------------------------------------------------------------- #

def q36_transaction_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TransactionWindow (src/operator/window/descr/transaction.rs:99-122):
    user logic commits a window whenever value > 0.9. The logic chosen is
    deliberately SQL-expressible (exclusive running count of commit rows)
    so the Arrow-grouped-map machinery gets a full value oracle."""
    ctx = _ctx(spark)

    def logic(row, _state):
        return "commit" if row["value"] > 0.9 else "continue"

    return (
        _t(ctx, sf_dir, "events")
        .map("user_id", "event_id", "value")
        .key_by("user_id")
        .window(TransactionWindow("event_id", logic))
        .fold(n=F.count(F.lit(1)), vol=F.round(F.sum("value"), 6))
        .df
    )


ORACLE_Q36 = """
WITH w AS (
  SELECT user_id, value,
         CAST(coalesce(sum(CASE WHEN value > 0.9 THEN 1 ELSE 0 END) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS window_id
  FROM events
)
SELECT user_id, window_id, count(*) AS n, round(sum(value), 6) AS vol
FROM w GROUP BY user_id, window_id
"""


def q37_all_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllWindow (src/operator/window/descr/all.rs:51-58): everything
    until stream end — a plain per-key fold."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "events")
        .key_by("event_type")
        .window(AllWindow())
        .fold(n=F.count(F.lit(1)), vol=F.round(F.sum("value"), 6))
        .df
    )


ORACLE_Q37 = """
SELECT event_type, count(*) AS n, round(sum(value), 6) AS vol
FROM events GROUP BY event_type
"""


def q38_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window first/last aggregators (aggr/first.rs:32, last.rs:30) over
    deterministic CountWindows (event_id order — unique, tie-free)."""
    ctx = _ctx(spark)
    win = _t(ctx, sf_dir, "events").map("user_id", "event_id", "value").key_by(
        "user_id"
    ).window(CountWindow.tumbling("event_id", size=7, exact=True))
    first = win.first(F.col("value"), alias="first_v")
    last = win.last(F.col("value"), alias="last_v")
    return (
        first.join(
            last.map("user_id", "window_id", "last_v"),
            ["user_id", "window_id"],
        )
        .map(
            "user_id", "window_id",
            first_v=F.round("first_v", 6), last_v=F.round("last_v", 6),
        )
        .df
    )


ORACLE_Q38 = """
WITH pos AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS p
  FROM events
)
SELECT user_id, p // 7 AS window_id,
       round(list(value ORDER BY p)[1], 6) AS first_v,
       round(list(value ORDER BY p)[-1], 6) AS last_v
FROM pos GROUP BY user_id, p // 7 HAVING count(*) = 7
"""
# first/last = the value of the boundary ROW even when that value is
# NULL (renoir's first/last return the boundary element). DuckDB's
# min_by/max_by skip NULL values, so the oracle reads the ordered-list
# boundary instead — NULL-faithful, identical on non-null data.


def q39_window_to_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window to_vec (aggr/collect_vec.rs:44-56): window contents as an
    ordered array. The array is projected to a joined string so the
    driver's pandas canonicalizer (which sorts/hashes column values) can
    handle the row — plain arrays are unhashable there (VERDICT r2 #3)."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "events")
        .map("user_id", "event_id", "value")
        .key_by("user_id")
        .window(CountWindow.tumbling("event_id", size=5, exact=True))
        .to_vec(F.round("value", 6), alias="vals")
        .map(
            "user_id", "window_id",
            vals=F.array_join(
                F.transform("vals", lambda v: F.format_string("%.6f", v)), ","
            ),
        )
        .df
    )


ORACLE_Q39 = """
WITH pos AS (
  SELECT user_id, round(value, 6) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS p
  FROM events
)
SELECT user_id, p // 5 AS window_id,
       array_to_string(list(coalesce(printf('%.6f', value), 'null')
                            ORDER BY p), ',') AS vals
FROM pos GROUP BY user_id, p // 5 HAVING count(*) = 5
"""
# to_vec keeps NULL elements in window order (Spark renders them as the
# string "null" via format_string); array_to_string drops NULL list
# entries, so the oracle coalesces to the same literal first.


def q40_window_map_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window map/to_arrow (aggr/collect.rs:47, to_arrow.rs:60-70): the
    window contents arrive as ONE pandas batch — per-user median."""
    ctx = _ctx(spark)

    def median(pdf):
        import pandas as pd

        return pd.DataFrame(
            [{"user_id": pdf["user_id"].iloc[0],
              "med": round(float(pdf["value"].median()), 6)}]
        )

    return (
        _t(ctx, sf_dir, "events")
        .map("user_id", "value")
        .key_by("user_id")
        .window(AllWindow())
        .map(median, "user_id long, med double")
        .df
    )


ORACLE_Q40 = """
SELECT user_id, round(median(value), 6) AS med FROM events GROUP BY user_id
"""


def q41_map_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_memo (src/operator/mod.rs:677-688): executor-side LRU over a
    pure function of the row."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .map("n_chars")
        .map_memo(
            lambda r: {"n_chars": r["n_chars"], "bucket": r["n_chars"] // 100},
            "n_chars long, bucket long",
        )
        .group_by("bucket")
        .count(alias="n")
        .df
    )


ORACLE_Q41 = """
SELECT n_chars // 100 AS bucket, count(*) AS n FROM documents GROUP BY bucket
"""


def q42_keyed_rich_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed rich_map (src/operator/mod.rs:2740-2746, per-key state):
    running total per user in event_id order via Arrow grouped-map."""
    ctx = _ctx(spark)

    def running(pdf):
        pdf = pdf.sort_values("event_id")
        # SQL running-sum NULL contract (mirrors the window-fn oracle):
        # NULL values don't advance the total, the row still emits the
        # carried sum, and rows BEFORE the first non-null stay NULL —
        # a plain cumsum would instead poison the tail with NaN
        cs = pdf["value"].fillna(0.0).cumsum()
        seen = pdf["value"].notna().cumsum() > 0
        pdf["cum"] = cs.where(seen).round(6)
        return pdf[["user_id", "event_id", "cum"]]

    return (
        _t(ctx, sf_dir, "events")
        .map("user_id", "event_id", "value")
        .key_by("user_id")
        .rich_map(running, "user_id long, event_id long, cum double")
        .df
    )


ORACLE_Q42 = """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
                              ROWS UNBOUNDED PRECEDING), 6) AS cum
FROM events
"""


def q43_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replication(n) (src/operator/mod.rs:1761-1766) → coalesce; results
    invariant under parallelism change."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "lineitem")
        .replication(4)
        .group_by("l_returnflag")
        .fold(n=F.count(F.lit(1)), qty=F.round(F.sum("l_quantity"), 2))
        .df
    )


ORACLE_Q43 = """
SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem GROUP BY l_returnflag
"""


def q44_repartition_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repartition_by (src/operator/mod.rs:1786-1794): custom partitioner;
    invariant results, exercised exchange."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "orders")
        .repartition_by(8, "o_orderpriority")
        .group_by("o_orderpriority")
        .fold(n=F.count(F.lit(1)))
        .df
    )


ORACLE_Q44 = "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority"


def q45_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reorder (src/operator/mod.rs:420-422): buffer to timestamp order —
    batch sort; deterministic via (ts, event_id) compound order."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "events")
        .map("event_id", "ts")
        .reorder("ts", "event_id")
        .limit(20)
        .map("event_id")
        .df
    )


ORACLE_Q45 = "SELECT event_id FROM events ORDER BY ts, event_id LIMIT 20"


def q46_processing_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProcessingTimeWindow (processing_time.rs:92-107) — documented
    divergence: bounded input is stamped at evaluation time, so all rows
    land in ONE wall-clock window; only the window CONTENTS are
    deterministic (bounds projected away)."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "events")
        .key_by("event_type")
        .window(ProcessingTimeWindow(3600.0))
        .fold(n=F.count(F.lit(1)))
        .map("event_type", "n")
        .df
    )


ORACLE_Q46 = "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"


def q47_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (north star: budget accounting) — whitespace
    tokens and a BPE-ish regex pre-tokenization, pure expressions over
    the documents table."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .map("doc_id", "text")
        .token_count("text")
        .map("doc_id", "tok_ws", "tok_bpe")
        .df
    )


ORACLE_Q47 = sql_token_count("documents", "text", "doc_id")


def q48_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash document fingerprints (SIGMOD'03), exploded
    to (doc_id, fp) — the inverted-index shape. The full fingerprint SET
    is value-checked by the oracle, not just a summary."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .map("doc_id", "text")
        # single-file scan → spread the gram hashing across the cluster
        .shuffle()
        .fingerprint_winnow("text", "doc_id")
        .df
    )


ORACLE_Q48 = sql_fingerprint_winnow("documents", "text", "doc_id")


_KMEANS_K = 4
_KMEANS_ROUNDS = 3


def q49_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means via ``replay`` (src/operator/iteration/replay.rs:256-300;
    example examples/kmeans.rs): the SAME point set is re-fed every
    round; the centroid list is the replayed state (renoir's
    IterationStateHandle). Deterministic contract mirrored by the oracle:
    init = the k smallest-id points; assignment = first minimum in
    centroid-id order; centroids rounded to 9 decimals each round so
    engine summation order cannot drift assignments.

    Scale: assignment is a PROJECTION (CASE chain over k inlined
    centroid literals — the k-row state broadcasts via the closure, no
    join); each round shuffles once for the per-cluster mean."""
    ctx = _ctx(spark)
    pts = _t(ctx, sf_dir, "events").map(
        pid=F.col("event_id"),
        x=F.col("value"),
        y=(F.col("event_id") % 97).cast("double") / F.lit(9.7),
    ).filter(F.col("x").isNotNull())  # a NULL coordinate has no distance

    init = [
        (i, round(r.x, 9), round(r.y, 9))
        for i, r in enumerate(
            pts.df.orderBy("pid").limit(_KMEANS_K).collect()
        )
    ]

    def assign_expr(centroids):
        dists = [
            (F.col("x") - F.lit(cx)) * (F.col("x") - F.lit(cx))
            + (F.col("y") - F.lit(cy)) * (F.col("y") - F.lit(cy))
            for _cid, cx, cy in centroids
        ]
        expr = F.lit(len(centroids) - 1)
        for i in range(len(centroids) - 2, -1, -1):
            cond = None
            for j in range(i + 1, len(centroids)):
                c = dists[i] <= dists[j]
                cond = c if cond is None else (cond & c)
            expr = F.when(cond, F.lit(i)).otherwise(expr)
        return expr

    def body(s, handle):
        return s.map("pid", "x", "y",
                     cluster=assign_expr(handle.get()).cast("long"))

    def update(state, df):
        means = {
            r.cluster: (round(r.cx, 9), round(r.cy, 9))
            for r in df.groupBy("cluster")
            .agg(F.avg("x").alias("cx"), F.avg("y").alias("cy"))
            .collect()
        }
        # a cluster that lost every point keeps its previous centroid
        return [
            (cid, *means.get(cid, (cx, cy))) for cid, cx, cy in state
        ]

    final = pts.replay(_KMEANS_ROUNDS, init, body, update)
    out = (
        pts.map("pid", "x", "y", cluster=assign_expr(final).cast("long"))
        .group_by("cluster")
        .fold(
            n=F.count(F.lit(1)),
            cx=F.round(F.avg("x"), 6),
            cy=F.round(F.avg("y"), 6),
        )
    )
    return out.df


def _kmeans_oracle() -> str:
    k, rounds = _KMEANS_K, _KMEANS_ROUNDS
    parts = [
        f"""
WITH p AS (
  SELECT event_id AS pid, value AS x, (event_id % 97)::DOUBLE / 9.7 AS y
  FROM events WHERE value IS NOT NULL
), c0 AS (
  SELECT row_number() OVER (ORDER BY pid) - 1 AS cid,
         round(x, 9) AS cx, round(y, 9) AS cy
  FROM p ORDER BY pid LIMIT {k}
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", a{r} AS (
  SELECT pid, x, y, cid FROM (
    SELECT p.pid, p.x, p.y, c.cid,
           row_number() OVER (
             PARTITION BY p.pid
             ORDER BY (p.x - c.cx) * (p.x - c.cx)
                    + (p.y - c.cy) * (p.y - c.cy), c.cid) AS rn
    FROM p CROSS JOIN c{r - 1} c
  ) WHERE rn = 1
), c{r} AS (
  SELECT cid, round(avg(x), 9) AS cx, round(avg(y), 9) AS cy
  FROM a{r} GROUP BY cid
)"""
        )
    parts.append(
        f""", afinal AS (
  SELECT pid, x, y, cid FROM (
    SELECT p.pid, p.x, p.y, c.cid,
           row_number() OVER (
             PARTITION BY p.pid
             ORDER BY (p.x - c.cx) * (p.x - c.cx)
                    + (p.y - c.cy) * (p.y - c.cy), c.cid) AS rn
    FROM p CROSS JOIN c{rounds} c
  ) WHERE rn = 1
)
SELECT cid AS cluster, count(*) AS n,
       round(avg(x), 6) AS cx, round(avg(y), 6) AS cy
FROM afinal GROUP BY cid"""
    )
    return "".join(parts)


ORACLE_Q49 = _kmeans_oracle()


def q50_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cosine top-3 for 8 query vectors: Voronoi cells around seeded
    unit centroids (assignment = a projection, no shuffle), search only
    the nprobe nearest cells per query — the inverted-file ANN scale path
    beside LSH (q32). Oracle recomputes the identical seeded centroids in
    SQL."""
    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings")
    queries = _t(ctx, sf_dir, "embeddings").filter("vec_id < 8")
    return emb.ann_cosine(queries, method="ivf", k=3, n_cells=16, nprobe=4).df


ORACLE_Q50 = sql_ann_cosine_ivf("embeddings", "vec_id < 8", k=3, n_cells=16, nprobe=4)


def q51_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end (SURVEY §2.13): text bytes stand in
    for media blobs; decode_image / decode_audio / sample_frames run
    their Arrow-batched stages with the DETERMINISTIC fake codecs
    (md5-derived metadata — multimodal.py:52-107), which the oracle
    recomputes from the hex md5 in SQL. Exercises schema evolution,
    bounded frame explosion and the no-shuffle decode path."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .map(doc_id=F.col("doc_id"), content=F.encode(F.col("text"), "UTF-8"))
        # single-file scan → parallel decode; fused image+audio decode =
        # one Arrow pass over the heavy binary column instead of two
        .shuffle()
        .decode_media()
        # columns=: last Python stage of the chain — the blob and the
        # two unused feature arrays don't ride the return trip (the
        # earlier decode_media pass must keep `content` for this stage)
        .sample_frames(num_frames=2, columns=[
            "doc_id", "image_width", "image_height",
            "audio_sample_rate", "audio_n_samples", "audio_duration_s",
        ])
        .map(
            "doc_id", "image_width", "image_height",
            "audio_sample_rate", "audio_n_samples", "frame_idx",
            dur_s=F.round(F.col("audio_duration_s").cast("double"), 6),
        )
        .df
    )


def q55_rolling_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling top-k — restates the reference's rolling_top_words example
    (examples/rolling_top_words.rs): per sliding event-time window, the
    3 most frequent tokens (event types as the token stream), ranked by
    (count desc, token). Counts come from the windowed fold; the rank is
    one partitioned row_number over the (small) per-window count set."""
    ctx = _ctx(spark)
    counts = (
        _t(ctx, sf_dir, "events")
        .key_by("event_type")
        .window(EventTimeWindow.sliding("ts", 172800.0, 86400.0))
        .fold(n=F.count(F.lit(1)))
        .map("event_type", win_s=F.col("win_start").cast("long"), n=F.col("n"))
        .sorted_limit_by(
            [F.col("n").desc(), F.col("event_type")], 3, per="win_s"
        )
    )
    return counts.df


ORACLE_Q55 = """
WITH counts AS (
  SELECT event_type, CAST(w * 86400 AS BIGINT) AS win_s, count(*) AS n
  FROM (
    SELECT event_type,
           unnest([floor(epoch(ts)/86400) - 1, floor(epoch(ts)/86400)]) AS w
    FROM events
  )
  GROUP BY event_type, w
)
SELECT event_type, win_s, n FROM (
  SELECT *, row_number() OVER (
    PARTITION BY win_s ORDER BY n DESC, event_type) AS rk
  FROM counts
) WHERE rk <= 3
"""


def q56_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting — restates the reference's triangles examples
    (examples/triangles_fold.rs): nations sharing a region form a
    complete subgraph; count triangles per region via the canonical
    ordered 3-way self-join (u < v < w counts each triangle once).

    Scale: edges shuffle on the join vertex; the ordering predicate
    keeps the join tree linear (no cartesian — every hop is an
    equi-join on a vertex id)."""
    ctx = _ctx(spark)
    nation = _t(ctx, sf_dir, "nation").df
    e = (
        nation.alias("a")
        .join(
            nation.alias("b"),
            (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
        )
        .select(
            F.col("a.n_nationkey").alias("u"),
            F.col("b.n_nationkey").alias("v"),
            F.col("a.n_regionkey").alias("r"),
        )
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, (F.col("e1.v") == F.col("e2.u")) & (F.col("e1.r") == F.col("e2.r")))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .groupBy(F.col("e1.r").alias("region"))
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return tri


ORACLE_Q56 = """
WITH e AS (
  SELECT a.n_nationkey AS u, b.n_nationkey AS v, a.n_regionkey AS r
  FROM nation a JOIN nation b
    ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
)
SELECT e1.r AS region, count(*) AS triangles
FROM e e1
JOIN e e2 ON e1.v = e2.u AND e1.r = e2.r
JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
GROUP BY e1.r
"""


def q59_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue share): fact-side filter pushed to
    the lineitem scan, part dimension broadcast, conditional aggregation
    — the last driver table (part) exercised. One broadcast join, one
    single-row aggregate, zero fact shuffles."""
    ctx = _ctx(spark)
    li = (
        _t(ctx, sf_dir, "lineitem")
        .filter("l_shipdate >= timestamp'1995-09-01' AND l_shipdate < timestamp'1995-10-01'")
        .map("l_partkey", rev=F.col("l_extendedprice") * (1 - F.col("l_discount")))
    )
    part = _t(ctx, sf_dir, "part").map("p_partkey", "p_type")
    joined = li.join_with(part, "l_partkey", "p_partkey").ship_broadcast_right().inner()
    promo = F.when(F.col("p_type") == "ECONOMY", F.col("rev")).otherwise(F.lit(0.0))
    return (
        joined.fold(
            promo_share=F.round(F.lit(100.0) * F.sum(promo) / F.sum("rev"), 6),
            n=F.count(F.lit(1)),
        )
        .df
    )


ORACLE_Q59 = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'ECONOMY'
                         THEN l_extendedprice * (1 - l_discount)
                         ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_share,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-09-01'
  AND l_shipdate < TIMESTAMP '1995-10-01'
"""


def q58_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access (§2.10 scalar surface): parse the events
    table's JSON ``props`` column with an expression (get_json_object —
    JVM-side, no UDF), aggregate the extracted field per event type."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "events")
        .map(
            "event_type",
            k=F.get_json_object(F.col("props"), "$.k").cast("long"),
        )
        .group_by("event_type")
        .fold(
            n=F.count(F.lit(1)),
            sum_k=F.sum("k"),
            max_k=F.max("k"),
        )
        .df
    )


ORACLE_Q58 = """
SELECT event_type, count(*) AS n,
       CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
       max(json_extract(props, '$.k')::BIGINT) AS max_k
FROM events GROUP BY event_type
"""


_LR_ROUNDS = 3
_LR_RATE = 0.1


def q57_logistic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression — restates the reference's
    examples/logistic_regression.rs on ``replay``: the point set is
    re-fed every round, the weight vector is the replayed state, each
    round is ONE aggregation (three gradient sums + count — Catalyst's
    partial/final agg is the two-phase fold renoir writes by hand).

    Determinism contract (same trick as q49): gradient SUMS round to 6
    decimals and weights to 9 each round, so engine-specific float
    association (and libm exp ulp noise) cannot drift the trajectory; the
    oracle unrolls the identical rounds in SQL. The final accuracy test
    uses the sign of z only — no exp — so it is exactly mirrorable."""
    ctx = _ctx(spark)
    pts = _t(ctx, sf_dir, "events").map(
        x1=F.col("value"),
        x2=(F.col("event_id") % 97).cast("double") / F.lit(9.7),
        y=(F.col("value") > 0.5).cast("double"),
    )

    def body(s, handle):
        w1, w2, b = handle.get()
        z = F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2") + F.lit(b)
        sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        return s.map(
            "x1", "x2", "y",
            g1=(sig - F.col("y")) * F.col("x1"),
            g2=(sig - F.col("y")) * F.col("x2"),
            g0=sig - F.col("y"),
        )

    def update(state, df):
        w1, w2, b = state
        r = df.agg(
            F.round(F.sum("g1"), 6).alias("s1"),
            F.round(F.sum("g2"), 6).alias("s2"),
            F.round(F.sum("g0"), 6).alias("s0"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        if r.n == 0:  # empty point set: sums are NULL, weights hold
            return state
        return (
            round(w1 - _LR_RATE * r.s1 / r.n, 9),
            round(w2 - _LR_RATE * r.s2 / r.n, 9),
            round(b - _LR_RATE * r.s0 / r.n, 9),
        )

    w1, w2, b = pts.replay(_LR_ROUNDS, (0.0, 0.0, 0.0), body, update)
    z = F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2") + F.lit(b)
    pred = F.when(z > 0, F.lit(1.0)).otherwise(F.lit(0.0))
    return (
        pts.fold(
            n_correct=F.sum(F.when(pred == F.col("y"), 1).otherwise(0)),
        )
        .map(
            w1=F.lit(w1), w2=F.lit(w2), b=F.lit(b),
            n_correct=F.col("n_correct"),
        )
        .df
    )


def _logreg_oracle() -> str:
    parts = [
        """
WITH p AS (
  SELECT value AS x1, (event_id % 97)::DOUBLE / 9.7 AS x2,
         (value > 0.5)::DOUBLE AS y
  FROM events
), w0 AS (SELECT 0.0::DOUBLE AS w1, 0.0::DOUBLE AS w2, 0.0::DOUBLE AS b)"""
    ]
    for r in range(1, _LR_ROUNDS + 1):
        parts.append(
            f""", g{r} AS (
  SELECT round(sum((1.0/(1.0+exp(-(w.w1*x1 + w.w2*x2 + w.b))) - y) * x1), 6) AS s1,
         round(sum((1.0/(1.0+exp(-(w.w1*x1 + w.w2*x2 + w.b))) - y) * x2), 6) AS s2,
         round(sum(1.0/(1.0+exp(-(w.w1*x1 + w.w2*x2 + w.b))) - y), 6) AS s0,
         count(*) AS n
  FROM p, w{r - 1} w
), w{r} AS (
  SELECT round(w.w1 - {_LR_RATE} * g.s1 / g.n, 9) AS w1,
         round(w.w2 - {_LR_RATE} * g.s2 / g.n, 9) AS w2,
         round(w.b  - {_LR_RATE} * g.s0 / g.n, 9) AS b
  FROM w{r - 1} w, g{r} g
)"""
        )
    parts.append(
        f"""
SELECT w.w1, w.w2, w.b,
       CAST(sum(CASE WHEN (CASE WHEN w.w1*x1 + w.w2*x2 + w.b > 0
                      THEN 1.0 ELSE 0.0 END) = y THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct
FROM p, w{_LR_ROUNDS} w
GROUP BY w.w1, w.w2, w.b"""
    )
    return "".join(parts)


ORACLE_Q57 = _logreg_oracle()


def q54_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch over lineitem order keys: partition-
    local k-minima fold → tiny merge → (k−1)/h_(k) estimate. The hash is
    the shared md5 map, so the oracle computes the IDENTICAL estimate —
    the sketch itself is verified, not just its error bound."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "lineitem")
        .map(key=F.col("l_orderkey").cast("string"))
        .approx_distinct_kmv("key", k=256)
        .df
    )


ORACLE_Q54 = sql_approx_distinct_kmv(
    "(SELECT l_orderkey::VARCHAR AS key FROM lineitem)", "key", k=256
)


def q53_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure — renoir ``iterate`` to a FIXPOINT
    (src/operator/iteration/iterate.rs:306-439; example
    examples/transitive_closure.rs): closure ∘ edges ∪ closure each
    round, stop when the pair count stops growing. Chain DAG from
    nation (n → n+5), depth 4, so the loop exercises real multi-round
    growth. Oracle: DuckDB recursive CTE (UNION dedup = same fixpoint).

    Scale: each round is one equi-join against the (broadcast, cached)
    edge set + a distinct; the loop condition is the one driver-side
    action per round (renoir's leader barrier)."""
    ctx = _ctx(spark)
    edges = (
        _t(ctx, sf_dir, "nation")
        .filter("n_nationkey < 20")
        .map(src=F.col("n_nationkey"), dst=F.col("n_nationkey") + 5)
        .cache()
    )

    def body(s, _handle):
        grown = (
            s.df.alias("c")
            .join(F.broadcast(edges.df.alias("e")), F.col("c.dst") == F.col("e.src"))
            .select(F.col("c.src").alias("src"), F.col("e.dst").alias("dst"))
        )
        return ctx.from_df(s.df.union(grown).distinct())

    def update(state, df):
        return (state[1], df.count())

    (_prev, _n), closure = edges.iterate(
        10, (-1, 0), body, update,
        loop_condition=lambda s: s[0] != s[1],
        shuffle_partitions=8,
    )
    return closure.df.select("src", "dst")


ORACLE_Q53 = """
WITH RECURSIVE e AS (
  SELECT n_nationkey AS src, n_nationkey + 5 AS dst
  FROM nation WHERE n_nationkey < 20
), r(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src
)
SELECT src, dst FROM r
"""


def q52_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew-proof join: identical RESULT to a plain equi-join
    (the oracle is the plain join), different execution — hot customer
    keys spread over 8 salt buckets instead of one straggler task. The
    correctness gate proves salting is pure execution strategy."""
    ctx = _ctx(spark)
    orders = _t(ctx, sf_dir, "orders").map(
        custkey=F.col("o_custkey"), price=F.col("o_totalprice")
    )
    cust = _t(ctx, sf_dir, "customer").map(
        custkey=F.col("c_custkey"), segment=F.col("c_mktsegment")
    )
    return (
        orders.join_salted(cust, "custkey", salt=8)
        .group_by("segment")
        .fold(
            n=F.count(F.lit(1)),
            avg_price=F.round(F.avg("price"), 6),
        )
        .df
    )


ORACLE_Q52 = """
SELECT c.c_mktsegment AS segment, count(*) AS n,
       round(avg(o.o_totalprice), 6) AS avg_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


ORACLE_Q51 = """
WITH m AS (
  -- the media blob is exactly the UTF-8 encoding of text, so md5 over
  -- the VARCHAR hashes the same bytes the fake codec sees
  SELECT doc_id, md5(text) AS h FROM documents
), d AS (
  SELECT doc_id,
    16 + ('0x' || substr(h, 1, 2))::INT % 64 AS image_width,
    16 + ('0x' || substr(h, 3, 2))::INT % 64 AS image_height,
    8000 * (1 + ('0x' || substr(h, 5, 2))::INT % 6) AS audio_sample_rate,
    1000 + ('0x' || substr(h, 7, 6))::INT % 100000 AS audio_n_samples
  FROM m
)
SELECT doc_id, image_width, image_height, audio_sample_rate,
       audio_n_samples, f.i AS frame_idx,
       round(((audio_n_samples::DOUBLE / audio_sample_rate)::FLOAT)::DOUBLE, 6) AS dur_s
FROM d, (SELECT unnest([0, 1]) AS i) f
"""


# --------------------------------------------------------------------- #
# NEXMark slice (benches/nexmark.rs:358-400, examples/nexmark.rs:92-396)
# --------------------------------------------------------------------- #

def q60_nexmark_currency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXMark q1 Currency Conversion (examples/nexmark.rs:92-110): the
    bid sub-stream (purchases) with dollar→euro price, stateless map.
    Same builder runs unbounded (test_nexmark.py streaming parity)."""
    from .nexmark import currency_conversion

    ctx = _ctx(spark)
    return currency_conversion(_t(ctx, sf_dir, "events")).df


ORACLE_Q60 = """
SELECT event_id,
       json_extract(props, '$.k')::BIGINT AS auction,
       user_id AS bidder,
       round(value * 0.908, 6) AS price_eur,
       epoch_us(ts) AS ts_us
FROM events WHERE event_type = 'purchase'
"""


def q61_nexmark_hot_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXMark q5 Hot Items (examples/nexmark.rs:302-330): per 2-day
    sliding window (1-day slide), the auction with the most bids —
    chained windowed count + per-window argmax (streaming form: Spark's
    multiple-stateful-operators path; parity test in test_nexmark.py)."""
    from .nexmark import hot_items

    ctx = _ctx(spark)
    return hot_items(
        _t(ctx, sf_dir, "events"), size=172800.0, slide=86400.0
    ).df


ORACLE_Q61 = """
WITH b AS (
  SELECT json_extract(props, '$.k')::BIGINT AS auction, ts
  FROM events WHERE event_type = 'purchase'
), wins AS (
  SELECT auction,
         unnest([floor(epoch(ts)/86400) - 1, floor(epoch(ts)/86400)]) AS w
  FROM b
), counts AS (
  SELECT CAST(w * 86400 AS BIGINT) AS win_s, auction, count(*) AS num
  FROM wins GROUP BY 1, 2
)
SELECT win_s, auction, num FROM counts
QUALIFY row_number() OVER (PARTITION BY win_s
                           ORDER BY num DESC, auction DESC) = 1
"""


def q62_nexmark_highest_bid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXMark q7 Highest Bid (examples/nexmark.rs:361-380): per tumbling
    day, the single highest-priced bid. Catalyst's partial/final max_by
    is the reference's hand-written two-level max."""
    from .nexmark import highest_bid

    ctx = _ctx(spark)
    return highest_bid(_t(ctx, sf_dir, "events"), size=86400.0).df


ORACLE_Q62 = """
WITH b AS (
  SELECT event_id, user_id AS bidder, value AS price,
         json_extract(props, '$.k')::BIGINT AS auction, ts
  FROM events WHERE event_type = 'purchase'
)
SELECT CAST(floor(epoch(ts)/86400) * 86400 AS BIGINT) AS win_s,
       auction, price, bidder
FROM b
QUALIFY row_number() OVER (PARTITION BY floor(epoch(ts)/86400)
                           ORDER BY price DESC, event_id DESC) = 1
"""


def q63_nexmark_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXMark q8 Monitor New Users (examples/nexmark.rs:382-396): people
    who signed up AND opened an auction (click) in the same tumbling day
    — renoir's window_join restated as a (user_id, window) hash
    equi-join; the window struct carries event time, so the identical
    plan is a state-bounded stream-stream join on unbounded input."""
    from .nexmark import monitor_new_users

    ctx = _ctx(spark)
    return monitor_new_users(_t(ctx, sf_dir, "events"), size=86400.0).df


ORACLE_Q63 = """
WITH p AS (
  SELECT user_id, event_id AS signup_id, floor(epoch(ts)/86400) AS w
  FROM events WHERE event_type = 'signup'
), a AS (
  SELECT user_id AS seller, event_id AS auction_id, value AS reserve,
         floor(epoch(ts)/86400) AS w
  FROM events WHERE event_type = 'click'
)
SELECT CAST(p.w * 86400 AS BIGINT) AS win_s, p.user_id,
       p.signup_id, a.auction_id, a.reserve
FROM p JOIN a ON p.user_id = a.seller AND p.w = a.w
"""


def q64_ann_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH ANN (the recall dial at scale): 8 independent
    hash tables of 6 planes each, candidates = union of per-table bucket
    matches, scored once. Measured recall@5 jumps 0.06 → 0.38 vs one
    table (tools/recall_harness.py); the oracle's OR-join over per-table
    bucket equalities mirrors the union+dedup exactly."""
    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings")
    queries = _t(ctx, sf_dir, "embeddings").filter("vec_id < 8")
    return emb.ann_cosine(
        queries, method="lsh", k=3, n_planes=6, n_tables=8
    ).df



_NEXMARK_WB_CTE = """
WITH a0 AS (
  SELECT json_extract(props, '$.k')::BIGINT AS k, user_id AS seller,
         value AS reserve, ts, event_id,
         row_number() OVER (PARTITION BY json_extract(props, '$.k')::BIGINT
                            ORDER BY event_id) AS rn
  FROM events WHERE event_type = 'click'
), a AS (
  SELECT k, seller, reserve, ts AS open_ts,
         ts + INTERVAL 7 DAY AS expires, k % 10 AS category
  FROM a0 WHERE rn = 1
), b AS (
  SELECT json_extract(props, '$.k')::BIGINT AS k, user_id AS bidder,
         value AS price, ts, event_id
  FROM events WHERE event_type = 'purchase'
), valid AS (
  SELECT a.k, a.seller, a.category, b.price, b.bidder, b.event_id
  FROM b JOIN a ON b.k = a.k
  WHERE b.ts >= a.open_ts AND b.ts < a.expires AND b.price >= a.reserve
), win AS (
  SELECT k, seller, category, price, bidder, event_id AS bid_event_id
  FROM valid
  QUALIFY row_number() OVER (PARTITION BY k
                             ORDER BY price DESC, event_id DESC) = 1
)
"""


def q65_nexmark_winning_bids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXMark winning_bids (examples/nexmark.rs:64-90, feeds q4/q6):
    per auction (first click per props.k opens it; 7-day lifetime), the
    highest valid bid — in-window and >= reserve. The auction side is
    one row per auction id, so it broadcasts; the bid stream never
    shuffles for the join."""
    from .nexmark import winning_bids

    ctx = _ctx(spark)
    return winning_bids(_t(ctx, sf_dir, "events")).df


ORACLE_Q65 = _NEXMARK_WB_CTE + """
SELECT k, seller, category, price, bidder, bid_event_id FROM win
"""


def q66_nexmark_avg_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXMark q4 Average Price for a Category
    (examples/nexmark.rs:173-196): winning bids -> per-category avg."""
    from .nexmark import avg_price_by_category

    ctx = _ctx(spark)
    return avg_price_by_category(_t(ctx, sf_dir, "events")).df


ORACLE_Q66 = _NEXMARK_WB_CTE + """
SELECT category, round(avg(price), 6) AS avg_final, count(*) AS n
FROM win GROUP BY category
"""


def q67_nexmark_avg_seller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXMark q6 Average Selling Price by Seller
    (examples/nexmark.rs:332-359): per seller, rolling average over the
    last-3 winning bids (CountWindow sliding(3,1), partials kept)."""
    from .nexmark import avg_selling_by_seller

    ctx = _ctx(spark)
    return avg_selling_by_seller(_t(ctx, sf_dir, "events"), size=3).map(
        "seller", "window_id", "avg_price", "n"
    ).df


ORACLE_Q67 = _NEXMARK_WB_CTE + """
, pos AS (
  SELECT seller, price,
         row_number() OVER (PARTITION BY seller ORDER BY bid_event_id) - 1 AS p
  FROM win
)
SELECT seller, p AS window_id,
       round(avg(price) OVER w, 6) AS avg_price,
       count(*) OVER w AS n
FROM pos
WINDOW w AS (PARTITION BY seller ORDER BY p
             ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING)
"""


def q68_nexmark_item_suggestion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXMark q3 Local Item Suggestion (examples/nexmark.rs:126-160):
    filtered person x filtered auction equi-join on seller; both
    predicates pushed below the join, person side broadcast. Completes
    the NEXMark q0-q8 restatement (q0 passthrough = collect_vec)."""
    from .nexmark import local_item_suggestion

    ctx = _ctx(spark)
    return local_item_suggestion(_t(ctx, sf_dir, "events")).df


ORACLE_Q68 = """
WITH p AS (
  SELECT user_id, min(event_id) AS signup_id
  FROM events WHERE event_type = 'signup'
  GROUP BY user_id HAVING user_id % 3 = 0
), a AS (
  SELECT json_extract(props, '$.k')::BIGINT AS k, user_id AS seller,
         event_id AS open_id
  FROM events WHERE event_type = 'click'
    AND json_extract(props, '$.k')::BIGINT % 10 = 4
)
SELECT p.user_id, p.signup_id, a.k, a.open_id
FROM a JOIN p ON a.seller = p.user_id
"""


def q69_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus exact dedup (decontamination): drop documents whose
    normalized text already appears in a reference corpus (here: the
    first 100 doc ids). Reference side reduces to DISTINCT sha2 keys
    before a left_anti equi-join — keys shuffle, texts never do."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents")
    seen = _t(ctx, sf_dir, "documents").filter("doc_id < 100")
    return (
        docs.dedup_against(seen, "text")
        .map("doc_id", "n_chars")
        .df
    )


ORACLE_Q69 = sql_dedup_against(
    "documents", "(SELECT * FROM documents WHERE doc_id < 100)",
    "text", "text", "t.doc_id, t.n_chars",
)


# --------------------------------------------------------------------- #
# training-data preparation (prep.py): q70-q79
# --------------------------------------------------------------------- #

from .prep import (  # noqa: E402  (oracle generators share constants)
    sql_bm25_rank,
    sql_chunk_dedup,
    sql_contaminated_ngrams,
    sql_pack_sequences,
    sql_pii_redact,
    sql_quality_gopher,
    sql_rebalance_mix,
    sql_repetition_stats,
    sql_assign_split,
    sql_sample_fraction,
    sql_sample_stratified,
    sql_sample_weighted,
    sql_sample_weighted_k,
    sql_unigram_logprob,
    sql_word_entropy,
    sql_tfidf_top_terms,
)

# The synthetic corpus carries no PII-shaped spans, so the PII query
# appends a deterministic synthetic contact block per document (same
# construction inlined in the oracle) — the redaction is exercised on
# every row instead of matching nothing.
_PII_FMT = ("contact u%d@ex%d.com ip 10.0.%d.%d card 4111111111111111 "
            "tel +1 555 0100234")
_PII_SQL_INPUT = """(
  SELECT doc_id,
         concat_ws(' ', text,
                   format('contact u{}@ex{}.com ip 10.0.{}.{} card '
                          || '4111111111111111 tel +1 555 0100234',
                          doc_id, doc_id, doc_id % 256,
                          (doc_id * 7) % 256)) AS text
  FROM documents
)"""


def q70_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, card numbers, phones, IPv4) with per-kind
    match counts — pure regexp_count/regexp_replace chain, zero
    shuffles, scan-speed at 100 TB. Synthetic PII injected
    deterministically per doc (see _PII_FMT) so every row redacts."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .map(
            doc_id=F.col("doc_id"),
            text=F.concat_ws(
                " ",
                F.col("text"),
                F.format_string(
                    _PII_FMT,
                    F.col("doc_id"), F.col("doc_id"),
                    F.col("doc_id") % 256, (F.col("doc_id") * 7) % 256,
                ),
            ),
        )
        .pii_redact("text")
        .map("doc_id", "pii_email", "pii_ccn", "pii_phone", "pii_ipv4",
             "text_redacted")
        .df
    )


ORACLE_Q70 = sql_pii_redact(_PII_SQL_INPUT, "text", "doc_id")


def q71_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate: token/word-length/alpha-fraction/
    stopword metrics + keep flag. Map-side only."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .map("doc_id", "text")
        .quality_gopher("text")
        .map("doc_id", "q_tokens", "q_mean_word_len", "q_alpha_frac",
             "q_stopword_hits", "q_keep")
        .df
    )


ORACLE_Q71 = sql_quality_gopher("documents", "text", "doc_id")


def q72_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level repetition metrics: duplicate-word fraction and top
    bigram coverage per doc. One (id, gram) shuffle with map-side
    partial counts — wordcount with a doc key prepended."""
    ctx = _ctx(spark)
    return _t(ctx, sf_dir, "documents").repetition_stats("doc_id", "text").df


ORACLE_Q72 = sql_repetition_stats("documents", "doc_id", "text")


def q73_sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% sample: map-side md5-hash filter, NO shuffle,
    reproducible across retries (unlike rand()-based sampling)."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .sample_fraction("doc_id", 0.25)
        .map("doc_id", "lang", "source", "n_chars")
        .df
    )


ORACLE_Q73 = (
    f"SELECT doc_id, lang, source, n_chars FROM "
    f"({sql_sample_fraction('documents', 'doc_id', 0.25)})"
)


def q74_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-(lang, source) quota sample (2 rows per
    stratum, smallest salted hash wins)."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .sample_stratified("doc_id", ["lang", "source"], 2)
        .map("doc_id", "lang", "source")
        .df
    )


ORACLE_Q74 = (
    f"SELECT doc_id, lang, source FROM "
    f"({sql_sample_stratified('documents', 'doc_id', 'lang, source', 2)})"
)


_MIX_TARGETS = {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.1, "zh": 0.1}


def q75_rebalance_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing to target language shares, then the
    per-lang survivor counts (verifies both the per-group fraction math
    and the hash filter)."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .rebalance_mix("doc_id", "lang", _MIX_TARGETS)
        .group_by("lang")
        .count(alias="n")
        .df
    )


ORACLE_Q75 = (
    f"SELECT lang, count(*) AS n FROM "
    f"({sql_rebalance_mix('documents', 'doc_id', 'lang', _MIX_TARGETS)}) "
    f"GROUP BY lang"
)


def q76_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk to 512-token packs, 8 hash
    buckets): per-doc pack assignment. The running-offset window runs
    PER BUCKET so packing parallelizes across executors."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .map("doc_id", "n_chars")
        .pack_sequences("doc_id", "n_chars", max_tokens=512, n_buckets=8)
        .map("doc_id", "pack_bucket", "pack_offset", "pack_id")
        .df
    )


ORACLE_Q76 = (
    f"SELECT doc_id, pack_bucket, pack_offset, pack_id FROM "
    f"({sql_pack_sequences('(SELECT doc_id, n_chars FROM documents)', 'doc_id', 'n_chars', max_tokens=512, n_buckets=8)})"
)


def q77_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: wordcount-shaped tf shuffle,
    vocabulary-sized df relation broadcast back, per-doc top-k window."""
    ctx = _ctx(spark)
    return _t(ctx, sf_dir, "documents").tfidf_top_terms("doc_id", "text", k=3).df


ORACLE_Q77 = sql_tfidf_top_terms("documents", "doc_id", "text", k=3)


_BM25_QUERY = ["spark", "window", "merge"]


def q78_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for a fixed query bag: postings filtered
    BEFORE the shuffle (only query-term hits move), TakeOrdered top-k."""
    ctx = _ctx(spark)
    return _t(ctx, sf_dir, "documents").bm25_rank(
        "doc_id", "text", _BM25_QUERY, k=10
    ).df


ORACLE_Q78 = sql_bm25_rank("documents", "doc_id", "text", _BM25_QUERY, k=10)


def q79_contaminated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag docs sharing any word 8-gram with
    a reference slice (doc_id % 10 = 0). Grams hash to 31-bit ints
    before the shuffle; the benchmark-side distinct gram set broadcasts."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents")
    ref = _t(ctx, sf_dir, "documents").filter("doc_id % 10 = 0").map("text")
    return docs.contaminated_ngrams(ref, "doc_id", "text", "text", n=8).df


ORACLE_Q79 = sql_contaminated_ngrams(
    "documents", "(SELECT text FROM documents WHERE doc_id % 10 = 0)",
    "doc_id", "text", "text", n=8,
)


def q80_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data hygiene pipeline — the prep operators
    composed the way a real corpus build chains them:

        redact PII → quality gate (keep) → exact dedup → deterministic
        50% sample → pack into 512-token sequences

    Every stage stays declarative, so Catalyst fuses the map-side stages
    (redact + gate + the dedup key projection) into the scan stage; the
    only shuffles are the dedup key partition and the pack bucket
    window. The oracle composes the same sql_* generators, so the
    verified object is the PIPELINE, not just its pieces."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .map("doc_id", "n_chars", "text")
        .pii_redact("text")
        .map("doc_id", "n_chars", text=F.col("text_redacted"))
        .quality_gopher("text")
        .filter("q_keep")
        .map("doc_id", "n_chars", "text")
        .dedup_exact("text", order=["doc_id"])
        .map("doc_id", "n_chars")
        .sample_fraction("doc_id", 0.5)
        .pack_sequences("doc_id", "n_chars", max_tokens=512, n_buckets=8)
        .map("doc_id", "n_chars", "pack_bucket", "pack_offset", "pack_id")
        .df
    )


_Q80_REDACTED = f"""(
  SELECT doc_id, n_chars, text_redacted AS text
  FROM ({sql_pii_redact('documents', 'text', 'doc_id, n_chars')})
)"""
_Q80_GATED = f"""(
  SELECT doc_id, n_chars, text
  FROM ({sql_quality_gopher(_Q80_REDACTED, 'text', 'doc_id, n_chars, text')})
  WHERE q_keep
)"""
_Q80_DEDUPED = f"""(
  {sql_dedup_exact(_Q80_GATED, 'text', 'doc_id', 'doc_id, n_chars')}
)"""
_Q80_SAMPLED = f"""(
  {sql_sample_fraction(_Q80_DEDUPED, 'doc_id', 0.5)}
)"""
ORACLE_Q80 = f"""
SELECT doc_id, n_chars, pack_bucket, pack_offset, pack_id
FROM ({sql_pack_sequences(_Q80_SAMPLED, 'doc_id', 'n_chars',
                          max_tokens=512, n_buckets=8)})
"""


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q81_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (hash-range assignment) —
    per-(split, lang) counts. Map-side labeling; one small agg."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .assign_split("doc_id", _SPLIT_WEIGHTS)
        .group_by("split", "lang")
        .count(alias="n")
        .df
    )


ORACLE_Q81 = (
    f"SELECT split, lang, count(*) AS n FROM "
    f"({sql_assign_split('documents', 'doc_id', _SPLIT_WEIGHTS)}) "
    f"GROUP BY split, lang"
)


def q82_collatz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collatz steps — the reference's per-element tight-loop bench
    (benches/collatz.rs:15-17, examples/collatz.rs:18-38): for each n in
    1..10000 run the 3n+1 loop (cap 1000 steps, stop when cur <= 1
    AFTER the update, exactly the reference's break placement), then
    reduce_assoc max on (steps, n).

    The loop is the genuinely-not-SQL workload, so it runs as an
    Arrow-batched numpy MASK loop — each batch advances all its active
    elements one step per pass (vectorized; never per-row Python). The
    oracle is a DuckDB recursive CTE with the identical update and
    termination rule — non-SQL operator, SQL-verifiable semantics."""
    import numpy as np
    import pandas as pd

    ctx = _ctx(spark)
    N, CAP = 10_000, 1_000

    def _batch(_state, pdf):
        n = pdf["id"].to_numpy(dtype=np.int64)
        cur = n.copy()
        steps = np.zeros_like(n)
        active = np.ones(len(n), dtype=bool)
        it = 0
        while active.any() and it < CAP:
            even = active & (cur % 2 == 0)
            odd = active & ~even
            cur[even] //= 2
            cur[odd] = cur[odd] * 3 + 1
            steps[active] += 1
            active &= cur > 1
            it += 1
        return pd.DataFrame({"n": n, "steps": steps})

    return (
        ctx.stream_par_iter(N, partitions=8)
        .filter("id >= 1")
        .rich_map_batches(lambda: None, _batch, "n long, steps long")
        .fold(best=F.max(F.struct(F.col("steps"), F.col("n"))))
        .map(steps=F.col("best.steps"), n=F.col("best.n"))
        .df
    )


ORACLE_Q82 = """
WITH RECURSIVE c(n, cur, steps, done) AS (
  SELECT t.range, t.range, 0, false FROM range(1, 10000) t
  UNION ALL
  SELECT n,
         CASE WHEN cur % 2 = 0 THEN cur // 2 ELSE 3 * cur + 1 END,
         steps + 1,
         (CASE WHEN cur % 2 = 0 THEN cur // 2 ELSE 3 * cur + 1 END) <= 1
  FROM c WHERE NOT done AND steps < 1000
), per_n AS (
  SELECT n, max(steps) AS steps FROM c GROUP BY n
)
SELECT CAST(steps AS BIGINT) AS steps, CAST(n AS BIGINT) AS n
FROM per_n ORDER BY steps DESC, n DESC LIMIT 1
"""


def q83_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level fuzzy dedup: MinHash-LSH verified pairs → connected
    components (min-label delta iteration) → canonical doc per cluster —
    the full production fuzzy-dedup pipeline shape. Input makes chains:
    each doc gets a ' zzz' near-copy and a ' zzz yyy www' copy-of-the-copy,
    so clusters form through TRANSITIVE pairs (the oracle's recursive CTE
    follows the same closure)."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    near = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id") + 100000,
        text=F.concat_ws(" ", F.col("text"), F.lit("zzz")),
    )
    far = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id") + 200000,
        text=F.concat_ws(" ", F.col("text"), F.lit("zzz yyy www")),
    )
    return (
        docs.merge(near).merge(far)
        .shuffle()
        .dedup_cluster_minhash("text", "doc_id", threshold=0.6)
        .map("doc_id", "cluster_id", "is_canonical")
        .df
    )


_Q83_INPUT = """(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text || ' zzz' FROM documents
  UNION ALL
  SELECT doc_id + 200000, text || ' zzz yyy www' FROM documents
)"""

ORACLE_Q83 = sql_dedup_cluster_minhash(_Q83_INPUT, "text", "doc_id",
                                       threshold=0.6)


def q84_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication: fraction of each doc's distinct 5-grams
    shared with at least one other doc (the shuffle-friendly stand-in for
    suffix-array substring dedup). Input plants partial copies — each doc
    re-appears with its first 12 words kept and a unique tail — so
    dup_frac lands strictly between 0 and 1 for most rows."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    partial = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id") + 100000,
        text=F.concat_ws(
            " ",
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 12), " "),
            F.concat(F.lit("tail"), F.col("doc_id").cast("string")),
        ),
    )
    return (
        docs.merge(partial)
        .shuffle()
        .duplicate_span_fraction("text", "doc_id", ngram=5, threshold=0.5)
        .df
    )


_Q84_INPUT = """(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         array_to_string((string_split(text, ' '))[1:12], ' ')
             || ' tail' || doc_id::VARCHAR
  FROM documents
)"""

ORACLE_Q84 = sql_duplicate_span_fraction(_Q84_INPUT, "text", "doc_id",
                                         ngram=5, threshold=0.5)


def q85_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup with reassembly: 8-word chunks, first
    occurrence wins globally, documents rebuilt from surviving chunks.
    Input plants full copies with one fresh trailing token — the copy's
    body chunks all drop, its final (tail-bearing) chunk survives."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    copies = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id") + 100000,
        text=F.concat_ws(
            " ", F.col("text"),
            F.concat(F.lit("fresh"), F.col("doc_id").cast("string")),
        ),
    )
    return (
        docs.merge(copies)
        .shuffle()
        .chunk_dedup("doc_id", "text", chunk_words=8)
        .df
    )


_Q85_INPUT = """(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text || ' fresh' || doc_id::VARCHAR FROM documents
)"""

ORACLE_Q85 = sql_chunk_dedup(_Q85_INPUT, "doc_id", "text", chunk_words=8)


def q86_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join: every click event picks up the most
    recent PRIOR purchase of the same user within a 1-hour tolerance —
    the feature-store / training-data primitive (``Stream.asof_join``).
    The right side is pre-aggregated per (user, ts) with an
    order-independent max so right event times are unique per key and
    the DuckDB ``ASOF JOIN`` oracle is deterministic."""
    ctx = _ctx(spark)
    ev = _t(ctx, sf_dir, "events")
    left = ev.filter("event_type = 'click'").map(
        "event_id", "user_id", "ts", "value"
    )
    right = (
        ev.filter("event_type = 'purchase'")
        .map("user_id", "ts", "value")
        .group_by_max_element(["user_id", "ts"], "value")
        .map("user_id", "ts", pvalue=F.col("value"))
    )
    return (
        left.asof_join(
            right, left_ts="ts", right_ts="ts", on=["user_id"],
            direction="backward", tolerance=3600.0, how="left",
        )
        .map(
            "event_id", "user_id", "value", "pvalue",
            # epoch-µs longs: pandas materializes Spark timestamps as
            # ns and DuckDB's as µs — integer µs is dtype-stable across
            # both engines (driver protocol)
            ts_us=F.unix_micros(F.col("ts").cast("timestamp")),
            matched_us=F.unix_micros(F.col("matched_ts").cast("timestamp")),
        )
        .df
    )


ORACLE_Q86 = """
WITH l AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
), r AS (
  SELECT user_id, ts, max(value) AS pvalue
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT l.event_id, l.user_id, l.value,
       CASE WHEN r.ts >= l.ts - INTERVAL 3600 SECOND THEN r.pvalue END AS pvalue,
       epoch_us(l.ts) AS ts_us,
       CASE WHEN r.ts >= l.ts - INTERVAL 3600 SECOND THEN epoch_us(r.ts) END
         AS matched_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q89_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths (Bellman-Ford relaxation) over the
    q25 test graph with deterministic weights ``(src+dst) % 7 + 1`` —
    the third ``delta_iterate`` workload beside connected components
    (q25) and transitive closure (q53): per-vertex min-distance state,
    rounds emit only IMPROVED distances as deltas, loop ends when no
    relaxation fires. Oracle: bounded-depth recursive CTE (positive
    weights + the graph's 2-hop reach make depth 3 exact).

    Scale: same Pregel shape as q25 — the invariant weighted edge side
    broadcasts, each round is one groupBy(dst) shuffle sized to the
    frontier, unreached vertices stay at the sentinel and never emit."""
    ctx = _ctx(spark)
    verts, edges = _graph(ctx, sf_dir)
    INF = 1 << 62
    wedges = edges.withColumn(
        "w", (F.col("src") + F.col("dst")) % 7 + 1
    ).persist()
    init = ctx.from_df(
        verts.withColumn(
            "dist",
            F.when(F.col("v") == 100, F.lit(0)).otherwise(F.lit(INF)).cast("long"),
        )
    ).key_by("v")

    def body(state, _it):
        cand = (
            state.df.filter(F.col("dist") < INF)
            .join(F.broadcast(wedges), state.df["v"] == wedges["src"])
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("new_dist"))
        )
        return ctx.from_df(
            cand.join(state.df, "v")
            .filter(F.col("new_dist") < F.col("dist"))
            .select("v", F.col("new_dist").alias("dist"))
        )

    final = init.delta_iterate(10, body, shuffle_partitions=8)
    # the final state is a materialized checkpoint (see q25)
    wedges.unpersist()
    return final.df.filter(F.col("dist") < INF).select("v", "dist")


ORACLE_Q89 = """
WITH RECURSIVE e0 AS (
  SELECT CAST(n_nationkey AS BIGINT) AS src,
         CAST(n_regionkey + 100 AS BIGINT) AS dst FROM nation
  UNION ALL
  SELECT CAST(c_custkey + 1000 AS BIGINT), CAST(c_nationkey AS BIGINT)
  FROM customer
), e AS (
  SELECT src, dst, (src + dst) % 7 + 1 AS w FROM (
    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
  )
), walk(v, dist, depth) AS (
  SELECT CAST(100 AS BIGINT), CAST(0 AS BIGINT), 0
  UNION ALL
  SELECT e.dst, walk.dist + e.w, walk.depth + 1
  FROM walk JOIN e ON e.src = walk.v
  WHERE walk.depth < 3
)
SELECT v, min(dist) AS dist FROM walk GROUP BY v
"""


def q93_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram entropy per document (nats, 6 decimals) —
    ``Stream.word_entropy``, the information-density quality signal:
    one (id, token) shuffle with map-side partial counts, then a per-id
    sum (wordcount with a doc key prepended)."""
    ctx = _ctx(spark)
    return _t(ctx, sf_dir, "documents").word_entropy("doc_id", "text").df


ORACLE_Q93 = sql_word_entropy("documents", "doc_id", "text")


def q92_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus downsampling — ``Stream.sample_weighted``:
    each document keeps with probability proportional to its length
    score (CCNet-style soft gate instead of a hard quality filter). The
    keep decision is a map-side salted-hash-vs-weight comparison — no
    shuffle, reproducible across retries — mirrored exactly by the
    oracle."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .sample_weighted("doc_id", F.col("n_chars") / 400.0)
        .map("doc_id", "n_chars")
        .df
    )


ORACLE_Q92 = sql_sample_weighted(
    "documents", "doc_id", "n_chars / 400.0"
) .replace("SELECT *", "SELECT doc_id, n_chars")


def q91_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals over (returnflag, linestatus) —
    ``Stream.group_by_rollup``: detail rows + per-flag subtotals + grand
    total in ONE partial/final aggregate (grouping sets expand before
    the shuffle). Counts only, so the subtotal rows hash bit-exactly."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "lineitem")
        .group_by_rollup(
            ["l_returnflag", "l_linestatus"],
            n=F.count(F.lit(1)),
            sum_qty=F.sum(F.col("l_quantity").cast("long")),
        )
        .df
    )


ORACLE_Q91 = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q90_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type — ``Stream.group_by_count_distinct``
    exact path (the HLL++ sketch path is the same call with
    ``exact=False``; their agreement is pinned in tests/test_gaps.py)."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "events")
        .group_by_count_distinct("event_type", "user_id")
        .df
    )


ORACLE_Q90 = """
SELECT event_type, count(DISTINCT user_id) AS n_distinct
FROM events GROUP BY 1
"""


def q88_dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup via IVF Voronoi cells (SemDeDup shape) over
    embeddings ∪ positively scaled copies (cosine exactly 1, same argmax
    cell by scale-invariance of the dot against unit centroids):
    ``Stream.dedup_embedding_ivf``. The geometry-following complement to
    q35's sign-LSH dedup — the oracle recomputes the identical seeded
    cells in SQL."""
    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings").map("vec_id", "embedding")
    scaled = _t(ctx, sf_dir, "embeddings").map(
        vec_id=F.col("vec_id") + 100000,
        embedding=F.transform("embedding", lambda x: x * F.lit(1.5)),
    )
    return (
        emb.merge(scaled)
        .shuffle()
        .dedup_embedding_ivf(threshold=0.95, n_cells=32)
        .map("vec_id")
        .df
    )


ORACLE_Q88 = sql_dedup_embedding_ivf(
    _Q35_INPUT, "vec_id", threshold=0.95, n_cells=32
)


def q87_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact quantiles of extended price per return flag —
    ``Stream.group_by_quantiles``. Spark's exact ``percentile`` and
    DuckDB's ``quantile_cont`` share the linear-interpolation definition,
    so the driver hash verifies them bit-for-bit; ``exact=False``
    switches the same operator to the sketch-based 100 TB path."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "lineitem")
        .group_by_quantiles(
            "l_returnflag", "l_extendedprice",
            {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p90": 0.9},
        )
        .df
    )


ORACLE_Q87 = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.25) AS p25,
       quantile_cont(l_extendedprice, 0.5)  AS p50,
       quantile_cont(l_extendedprice, 0.75) AS p75,
       quantile_cont(l_extendedprice, 0.9)  AS p90
FROM lineitem GROUP BY 1
"""


def q94_longest_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE substring-level dedup signal — ``Stream.longest_duplicate_span``:
    exact longest duplicated word-span per document via one generalized
    suffix-automaton Arrow pass per group (the suffix-array pipeline
    quantity q84's fixed-n-gram fraction approximates). Input plants long
    spans — each doc re-appears with its first 12 words kept and a unique
    tail — and ``group_expr = doc_id % 100000`` co-groups every copy with
    its original (the production composition passes the minhash cluster
    id here). Oracle computes the identical quantity via an INDEPENDENT
    relational formulation (token-position equi-join -> diagonal
    islands -> longest run per doc)."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    partial = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id") + 100000,
        text=F.concat_ws(
            " ",
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 12), " "),
            F.concat(F.lit("tail"), F.col("doc_id").cast("string")),
        ),
    )
    return (
        docs.merge(partial)
        .shuffle()
        .longest_duplicate_span(
            "text", "doc_id", n_groups=25,
            group_expr=F.col("doc_id") % 100000,
        )
        .df
    )


ORACLE_Q94 = sql_longest_duplicate_span(
    _Q84_INPUT, "text", "doc_id", n_groups=25,
    group_sql="(doc_id % 100000)",
)


def q95_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof per-key running sum — ``KeyedStream.running_sum``
    (chunked path): range-split chunks + JVM local-prefix window over
    (chunk, key) + broadcast carries, so a hot key never serializes into
    one task (measured in docs/SCALING.md). Integer amounts keep the
    chunked carry addition exact at any association, so the result is
    bit-identical to the oracle's single-pass window sum. The final
    eager localCheckpoint materializes once and releases the operator's
    correctness persist (no cache leak — same discipline as the
    iteration queries)."""
    ctx = _ctx(spark)
    out = (
        _t(ctx, sf_dir, "events")
        .map("user_id", "event_id", amt=(F.col("event_id") % 100).cast("double"))
        .key_by("user_id")
        .running_sum("event_id", partitions=8, cum=F.col("amt"))
    )
    final = (
        out.df.select("user_id", "event_id", F.col("cum").cast("long").alias("cum"))
        .localCheckpoint(eager=True)
    )
    out.unpersist()
    return final


ORACLE_Q95 = """
SELECT user_id, event_id,
       CAST(sum(event_id % 100) OVER (
         PARTITION BY user_id ORDER BY event_id
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
FROM events
"""


def q96_dedup_against_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with a broadcast Bloom prefilter + exact confirm
    (``dedup_against_bloom``): reference collapses to a bit array (~10
    bits/key vs a 32-byte-key broadcast hash relation), corpus rows are
    probed map-side (Arrow-vectorized numpy, zero shuffle of clean
    rows), and only the bloom-positive sliver reaches the exact
    normalized-text anti-join — so bloom false positives cannot leak
    and the result is bit-identical to the exact NOT EXISTS oracle."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents")
    seen = _t(ctx, sf_dir, "documents").filter("doc_id % 7 = 0")
    return (
        docs.dedup_against_bloom(seen, "text")
        .map("doc_id", "lang", "n_chars")
        .df
    )


ORACLE_Q96 = sql_dedup_against(
    "documents", "(SELECT * FROM documents WHERE doc_id % 7 = 0)",
    "text", "text", "t.doc_id, t.lang, t.n_chars",
)


def q97_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 words via the two-pass Misra-Gries sketch
    (``heavy_hitters``): pass 1 keeps ≤ capacity counters per partition
    (only capacity × partitions candidate keys ever shuffle — the 100 TB
    answer to billion-cardinality top-k), pass 2 recounts candidates
    exactly behind a broadcast semi-join, with a run-time exactness check
    (k-th count > N/(capacity+1)) that falls back to the full exact
    aggregation rather than ever returning an approximation."""
    ctx = _ctx(spark)
    words = (
        _t(ctx, sf_dir, "documents")
        .shuffle()
        .flat_map(F.split(lower_canon(F.col("text")), " "), alias="word")
        .filter("word <> ''")
    )
    return words.heavy_hitters("word", 10, capacity=64).df


ORACLE_Q97 = f"""
SELECT word, count(*) AS cnt
FROM (SELECT unnest(string_split({sql_lower_canon('text')}, ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
ORDER BY cnt DESC, word ASC
LIMIT 10
"""


def q98_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring — ``Stream.unigram_logprob``:
    mean token log-probability under an add-1-smoothed unigram LM
    trained on the corpus itself (the oracle-checkable form of CCNet's
    KenLM filter). Model pass is wordcount-shaped; scoring joins
    per-(doc, token) counts against the vocabulary-sized model (AQE
    broadcasts it) with per-doc terms summed in canonical sorted order
    — the q93 float discipline."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents").unigram_logprob("doc_id", "text").df
    )


ORACLE_Q98 = sql_unigram_logprob("documents", "doc_id", "text")


def q99_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized cosine top-3 with exact rerank: per-dim
    [min,max] byte codec (4x smaller corpus scan), approximate ranking
    on the dequantized codes, fp32 re-score of the top-12 candidates.
    The oracle mirrors the grid, codec and two-stage selection, so the
    check is bit-exact independent of quantization error."""
    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings")
    queries = _t(ctx, sf_dir, "embeddings").filter("vec_id < 8")
    return emb.ann_cosine(queries, method="sq8", k=3, rerank=12).df


ORACLE_Q99 = sql_ann_cosine_sq8("embeddings", "vec_id < 8", k=3, rerank=12)


def qa01_ann_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + SQ8 composed ANN (the classic two-level stack): Voronoi
    cells bound search volume (nprobe/n_cells of the corpus), byte
    codes bound scan cost (4x), exact fp32 rerank of the top-12. The
    oracle composes q50's assignment/probe CTEs with q99's codec CTEs
    — bit-exact regardless of either approximation."""
    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings")
    queries = _t(ctx, sf_dir, "embeddings").filter("vec_id < 8")
    return emb.ann_cosine(
        queries, method="ivf_sq8", k=3, n_cells=16, nprobe=4, rerank=12
    ).df


ORACLE_QA01 = sql_ann_cosine_ivf_sq8(
    "embeddings", "vec_id < 8", k=3, n_cells=16, nprobe=4, rerank=12
)


def qa02_sample_weighted_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sample without replacement (Efraimidis-Spirakis
    A-Res) — ``Stream.sample_weighted_k``: exactly 100 docs, inclusion
    probability proportional to length score, no rand() (salted-hash
    uniforms), keys rounded to 6 decimals with id tie-break (the q93
    float discipline) so the oracle comparison is ulp-proof. Plans as
    TakeOrdered: per-partition partial top-k, no full sort shuffle."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .sample_weighted_k("doc_id", F.col("n_chars") / 400.0, 100)
        .map("doc_id", "n_chars")
        .df
    )


ORACLE_QA02 = f"""
SELECT doc_id, n_chars FROM (
{sql_sample_weighted_k("documents", "doc_id", "n_chars / 400.0", 100)}
)
"""


def qa03_sample_weighted_k_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum A-Res: exactly 20 length-weighted winners PER
    language — the fixed-budget corpus-mixing primitive ("k docs per
    domain, quality-weighted"), one shuffle on the strata key."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .sample_weighted_k(
            "doc_id", F.col("n_chars") / 400.0, 20, strata=["lang"]
        )
        .map("doc_id", "lang", "n_chars")
        .df
    )


ORACLE_QA03 = f"""
SELECT doc_id, lang, n_chars FROM (
{sql_sample_weighted_k("documents", "doc_id", "n_chars / 400.0", 20, strata="lang")}
)
"""


def qa04_decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination — ``Stream.decontaminate_embedding``:
    drop corpus vectors cosine-similar (>= 0.25) to any of the 8
    "benchmark" reference vectors. The refs collapse to ONE broadcast
    array row; the corpus test is a map-side higher-order EXISTS —
    zero shuffles, no row multiplication. The oracle is a NOT EXISTS
    over the same zero-safe rounded cosine."""
    from .datapipe import decontaminate_embedding

    ctx = _ctx(spark)
    refs = _t(ctx, sf_dir, "embeddings").filter("vec_id < 8")
    corpus = _t(ctx, sf_dir, "embeddings").filter("vec_id >= 8")
    return (
        decontaminate_embedding(corpus, refs, "embedding", threshold=0.25)
        .map("vec_id", "label")
        .df
    )


def _oracle_qa04() -> str:
    from .datapipe import sql_decontaminate_embedding

    return sql_decontaminate_embedding(
        "(SELECT * FROM embeddings WHERE vec_id >= 8)",
        "(SELECT * FROM embeddings WHERE vec_id < 8)",
        "embedding", "embedding", "t.vec_id, t.label", threshold=0.25,
    )


ORACLE_QA04 = _oracle_qa04()


def qa05_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch corpus mixing — ``Stream.upsample_epochs``:
    2.3 epochs of en, 0.5 of de, 1.0 (default) elsewhere. Pure
    map-side explode + salted-hash gate: zero shuffles, deterministic
    copies, ``epoch_ix`` disambiguates duplicates downstream."""
    from .prep import upsample_epochs

    ctx = _ctx(spark)
    return (
        upsample_epochs(
            _t(ctx, sf_dir, "documents"), "doc_id", "lang",
            {"en": 2.3, "de": 0.5},
        )
        .map("doc_id", "lang", "epoch_ix")
        .df
    )


def _oracle_qa05() -> str:
    from .prep import sql_upsample_epochs

    return sql_upsample_epochs(
        "documents", "doc_id", "lang", {"en": 2.3, "de": 0.5},
        "doc_id, lang",
    )


ORACLE_QA05 = _oracle_qa05()


def qa06_ann_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted ANN index round trip — ``Stream.ann_index_build`` →
    ``StreamContext.ann_index`` → ``AnnIndex.query``: the IVF+SQ8
    artifact (codes hive-partitioned by cell) is written, re-opened
    cold, and served with partition pruning. Results are identical to
    the direct ``ann_cosine(method='ivf_sq8')``, so the composed
    IVF+SQ8 DuckDB oracle verifies the whole save → load → query path
    bit-exactly."""
    import hashlib
    import os
    import tempfile

    from .ann_index import ann_index_load

    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings")
    queries = _t(ctx, sf_dir, "embeddings").filter("vec_id < 6")
    # deterministic per-(sf_dir, process) path, overwritten on rebuild
    # — repeated harness invocations (oracle tests, bench legs, driver
    # hashing) must not accumulate index copies, and concurrent harness
    # processes must not race on one directory
    path = os.path.join(
        tempfile.gettempdir(),
        "renoir_ann_idx_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        + f"_{os.getpid()}",
    )
    emb.ann_index_build(path, n_cells=16)
    idx = ann_index_load(spark, path)
    return idx.query(queries, k=3, nprobe=3, rerank=10).df


def _oracle_qa06() -> str:
    from .datapipe import sql_ann_cosine_ivf_sq8

    return sql_ann_cosine_ivf_sq8(
        "embeddings", "vec_id < 6", k=3, n_cells=16, nprobe=3, rerank=10
    )


ORACLE_QA06 = _oracle_qa06()


def _tmp_index_path(prefix: str, sf_dir: str) -> str:
    """Deterministic per-(sf_dir, process) temp path (overwritten on
    rebuild) — repeated harness invocations within a process must not
    accumulate index copies, and CONCURRENT harness processes (pytest +
    driver + matrix subprocess) must not race on one directory."""
    import hashlib
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        prefix + hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        + f"_{os.getpid()}",
    )


def qa07_dedup_index_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted MinHash-LSH dedup index — ``Stream.dedup_index_build``
    over 4/5 of the documents, then ``DedupIndex.dedup_batch`` dedups
    the held-out 1/5 against it: the incremental-ingest primitive (new
    data vs an already-indexed 100 TB corpus, postings read under a
    literal hive-partition filter, corpus text never re-shingled).
    The cross-corpus LSH + Jaccard-verify DuckDB mirror
    (``sql_dedup_index_batch``) verifies the save → load → match path
    bit-exactly."""
    from .dedup_index import dedup_index_load

    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents")
    corpus = docs.filter("doc_id % 5 != 0")
    batch = docs.filter("doc_id % 5 = 0")
    path = _tmp_index_path("renoir_dedup_idx_", sf_dir)
    corpus.dedup_index_build(path, text_col="text", id_col="doc_id",
                             bucket_dirs=16)
    idx = dedup_index_load(spark, path)
    return (
        idx.dedup_batch(batch, threshold=0.7)
        .df.select("doc_id", "lang", "n_chars")
    )


def _oracle_qa07() -> str:
    from .dedup_index import sql_dedup_index_batch

    return sql_dedup_index_batch(
        "(SELECT * FROM documents WHERE doc_id % 5 != 0)",
        "(SELECT * FROM documents WHERE doc_id % 5 = 0)",
        "text", "doc_id", "doc_id, lang, n_chars",
    )


ORACLE_QA07 = _oracle_qa07()


def qa08_dedup_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest round trip on the persisted dedup index:
    build over the corpus, dedup increment 1, ``append`` its survivors,
    then dedup increment 2 — whose rows must now be checked against
    corpus AND the appended survivors, proving the append path feeds
    subsequent matches. One flat-WITH DuckDB mirror
    (``sql_dedup_index_incremental``) verifies the whole sequence."""
    from .dedup_index import dedup_index_load

    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents")
    corpus = docs.filter("doc_id % 5 != 0")
    b1 = docs.filter("doc_id % 10 = 0")
    b2 = docs.filter("doc_id % 10 = 5")
    path = _tmp_index_path("renoir_dedup_idx_inc_", sf_dir)
    corpus.dedup_index_build(path, text_col="text", id_col="doc_id",
                             bucket_dirs=16)
    idx = dedup_index_load(spark, path)
    surv1 = idx.dedup_batch(b1, threshold=0.7)
    idx.append(surv1)
    return (
        idx.dedup_batch(b2, threshold=0.7)
        .df.select("doc_id", "n_chars")
    )


def _oracle_qa08() -> str:
    from .dedup_index import sql_dedup_index_incremental

    return sql_dedup_index_incremental(
        "(SELECT * FROM documents WHERE doc_id % 5 != 0)",
        "(SELECT * FROM documents WHERE doc_id % 10 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 10 = 5)",
        "text", "doc_id", "doc_id, n_chars",
    )


ORACLE_QA08 = _oracle_qa08()


def qa09_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023 shape): hashed-bigram
    bucket distributions over a TARGET domain (the English slice) vs
    the RAW corpus give per-doc log importance weights; Gumbel-top-k in
    log space resamples 40 docs ∝ exp(weight), deterministically
    (salted id hash). Model passes are wordcount-shaped and bounded by
    n_buckets regardless of corpus size."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents")
    target = docs.filter("lang = 'en'")
    return (
        docs.dsir_select(target, "text", "doc_id", 40, n_buckets=1024)
        .df.select("doc_id", "lang", "n_chars", "dsir_logw")
    )


def _oracle_qa09() -> str:
    from .prep import sql_dsir_select

    return sql_dsir_select(
        "documents", "(SELECT * FROM documents WHERE lang = 'en')",
        "text", "doc_id", 40, "t.doc_id, t.lang, t.n_chars",
        n_buckets=1024,
    )


ORACLE_QA09 = _oracle_qa09()


def qa10_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine classifier filter (CCNet / quality-classifier shape):
    train a multinomial Naive Bayes over hashed unigram buckets on the
    labeled 2/3 of the documents (label = lang) and score the held-out
    1/3 — argmax class + rounded score per doc, ties to the smallest
    class. Training is wordcount-shaped; the ≤ n_buckets × |classes|
    model broadcasts into the scoring join."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents")
    labeled = docs.filter("doc_id % 3 != 0")
    score = docs.filter("doc_id % 3 = 0")
    return (
        score.nb_classify(labeled, "text", "doc_id", "lang",
                          n_buckets=1024)
        .df.select("doc_id", "pred", "score")
    )


def _oracle_qa10() -> str:
    from .prep import sql_nb_classify

    return sql_nb_classify(
        "(SELECT * FROM documents WHERE doc_id % 3 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 3 != 0)",
        "text", "doc_id", "lang", n_buckets=1024,
    )


ORACLE_QA10 = _oracle_qa10()


def qa11_dedup_index_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-mode persisted dedup index (normalized-content sha2 keys,
    hive-partitioned by key-hash bucket) through the full incremental
    round trip: build over the corpus, dedup increment 1, append its
    survivors, dedup increment 2 — the cheapest production
    decontamination loop (``dedup_against`` semantics, persisted). The
    NOT-EXISTS DuckDB mirror verifies the sequence bit-exactly."""
    from .dedup_index import dedup_index_load

    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents")
    corpus = docs.filter("doc_id % 5 != 0")
    b1 = docs.filter("doc_id % 10 = 0")
    b2 = docs.filter("doc_id % 10 = 5")
    path = _tmp_index_path("renoir_dedup_idx_ex_", sf_dir)
    corpus.dedup_index_build(path, text_col="text", id_col="doc_id",
                             bucket_dirs=16, mode="exact")
    idx = dedup_index_load(spark, path)
    surv1 = idx.dedup_batch(b1)
    idx.append(surv1)
    return idx.dedup_batch(b2).df.select("doc_id", "n_chars")


def _oracle_qa11() -> str:
    from .dedup_index import sql_dedup_index_exact_incremental

    return sql_dedup_index_exact_incremental(
        "(SELECT * FROM documents WHERE doc_id % 5 != 0)",
        "(SELECT * FROM documents WHERE doc_id % 10 = 0)",
        "(SELECT * FROM documents WHERE doc_id % 10 = 5)",
        "text", "doc_id", "doc_id, n_chars",
    )


ORACLE_QA11 = _oracle_qa11()


def qa12_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index (the FAISS ``add`` analog): build the
    IVF+SQ8 index over 3/4 of the embeddings, ``append`` the held-out
    quarter (centroids + SQ8 grid stay frozen at build values; new
    vectors assign to existing cells, out-of-grid components encode by
    the same unclamped formula), then query — results must equal the
    direct operator over the FULL corpus with seeds/grid pinned to the
    build slice, which the generalized DuckDB mirror expresses via its
    seed_expr/stats_expr parameters."""
    from .ann_index import ann_index_load

    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings")
    build = _t(ctx, sf_dir, "embeddings").filter("vec_id % 4 != 0")
    extra = _t(ctx, sf_dir, "embeddings").filter("vec_id % 4 = 0")
    queries = _t(ctx, sf_dir, "embeddings").filter("vec_id < 6")
    path = _tmp_index_path("renoir_ann_idx_app_", sf_dir)
    build.ann_index_build(path, n_cells=16)
    idx = ann_index_load(spark, path)
    idx.append(extra)
    return idx.query(queries, k=3, nprobe=3, rerank=10).df


def _oracle_qa12() -> str:
    from .datapipe import sql_ann_cosine_ivf_sq8

    build = "(SELECT * FROM embeddings WHERE vec_id % 4 != 0)"
    return sql_ann_cosine_ivf_sq8(
        "embeddings", "vec_id < 6", k=3, n_cells=16, nprobe=3, rerank=10,
        seed_expr=build, stats_expr=build,
    )


ORACLE_QA12 = _oracle_qa12()


def qa13_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal (CCNet/RefinedWeb line-dedup
    shape): a fixed 8-word cookie-banner prefix is planted on every 4th
    document; ``drop_common_chunks`` must remove EVERY occurrence of any
    8-word chunk shared by >= 3 distinct documents (the banner, plus the
    naturally repeated chunks of the small-vocabulary corpus), keeping
    no copy — unlike chunk_dedup's first-occurrence rule."""
    ctx = _ctx(spark)
    banner = "accept all cookies to continue reading this site"
    docs = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id"),
        text=F.when(
            F.col("doc_id") % 4 == 0,
            F.concat_ws(" ", F.lit(banner), F.col("text")),
        ).otherwise(F.col("text")),
    )
    return (
        docs.drop_common_chunks("doc_id", "text", chunk_words=8, max_df=3).df
    )


def _oracle_qa13() -> str:
    from .prep import sql_drop_common_chunks

    banner = "accept all cookies to continue reading this site"
    inp = f"""(
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN '{banner} ' || text
              ELSE text END AS text
  FROM documents
)"""
    return sql_drop_common_chunks(inp, "doc_id", "text",
                                  chunk_words=8, max_df=3)


ORACLE_QA13 = _oracle_qa13()


def qa14_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap: keep at most 30 documents per source,
    chosen by salted-hash rank (a reproducible uniform sample of each
    domain, independent of partition layout) — the anti-domination pass
    every web-scale mix applies before training."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .cap_per_group("doc_id", "source", 30)
        .map("doc_id", "source", "n_chars")
        .df
    )


def _oracle_qa14() -> str:
    from .prep import sql_cap_per_group

    inner = sql_cap_per_group("documents", "doc_id", "source", 30)
    return f"SELECT doc_id, source, n_chars FROM ({inner})"


ORACLE_QA14 = _oracle_qa14()


def qa15_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced training-shard plan: rank documents by
    (n_chars DESC, doc_id) and deal them serpentine across 8 shards
    (the LPT-style balance every shard writer needs), then report the
    per-shard manifest — doc count and token-weight sum. Balanced
    shards differ by at most one block's spread."""
    ctx = _ctx(spark)
    return (
        _t(ctx, sf_dir, "documents")
        .shard_by_tokens("doc_id", "n_chars", 8)
        .group_by_fold(
            "shard",
            n_docs=F.count(F.lit(1)),
            tok_sum=F.sum("n_chars"),
        )
        .df.select("shard", "n_docs", "tok_sum")
    )


def _oracle_qa15() -> str:
    from .prep import sql_shard_by_tokens

    inner = sql_shard_by_tokens("documents", "doc_id", "n_chars", 8)
    return f"""
SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS tok_sum
FROM ({inner}) GROUP BY shard
"""


ORACLE_QA15 = _oracle_qa15()


def qa16_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (the first pass of every crawl pipeline):
    documents gain synthetic URLs in three raw spellings of the same
    page — uppercase scheme/host + www + tracking params, explicit
    default port + fragment, schemeless (defaults to http, a DISTINCT
    origin) — and ``dedup_url`` must collapse spelling variants onto
    one canonical key, keeping the min doc_id and counting the
    collapse. Exercises every canonicalization rule end-to-end against
    the regex-identical DuckDB mirror."""
    ctx = _ctx(spark)
    page = (F.col("doc_id") % 50).cast("string")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("HTTPS://WWW."), F.col("source"),
                     F.lit(".Example.COM/page/"), page,
                     F.lit("/?utm_source=x&b=2&a=1")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".example.com:443/page/"), page,
                     F.lit("?a=1&b=2&fbclid=zz#frag")),
        )
        .otherwise(
            F.concat(F.col("source"), F.lit(".example.com/page/"), page,
                     F.lit("?b=2&a=1")),
        )
    )
    docs = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id"), url=url
    )
    return docs.dedup_url("doc_id", "url").df


def _oracle_qa16() -> str:
    from .prep import sql_dedup_url

    inp = """(
  SELECT doc_id,
         CASE
           WHEN doc_id % 3 = 0 THEN
             'HTTPS://WWW.' || source || '.Example.COM/page/' ||
             (doc_id % 50)::VARCHAR || '/?utm_source=x&b=2&a=1'
           WHEN doc_id % 3 = 1 THEN
             'https://' || source || '.example.com:443/page/' ||
             (doc_id % 50)::VARCHAR || '?a=1&b=2&fbclid=zz#frag'
           ELSE
             source || '.example.com/page/' ||
             (doc_id % 50)::VARCHAR || '?b=2&a=1'
         END AS url
  FROM documents
)"""
    return sql_dedup_url(inp, "doc_id", "url")


ORACLE_QA16 = _oracle_qa16()


def qa17_ssjoin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join (lossless prefix filter, PPJoin
    family): all pairs with 5-gram-shingle Jaccard ≥ 0.5 among
    documents ∪ perturbed copies — same planted-duplicate input as q34,
    but the oracle is plain BRUTE FORCE: unlike the inverted-index
    variant (df-cutoff contract) and MinHash (probabilistic recall),
    the prefix filter must lose nothing."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    dups = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id") + 100000,
        text=F.concat_ws(" ", F.col("text"), F.lit("zzz")),
    )
    return (
        docs.merge(dups)
        .shuffle()
        .similar_pairs_exact("text", "doc_id", shingle_n=5, threshold=0.5)
        .df
    )


def _oracle_qa17() -> str:
    from .datapipe import sql_similar_pairs_exact

    return sql_similar_pairs_exact(
        _Q28_INPUT, "text", "doc_id", shingle_n=5, threshold=0.5
    )


ORACLE_QA17 = _oracle_qa17()


_QA18_BLOCK = dict(
    block_hosts=["tracker.web.example.com"],
    block_domains=["spam-mirror.net"],
    block_patterns=[r"[?&]session_id=", r"/ad(s|server)?/"],
)


def qa18_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL blocklist filter: documents gain synthetic URLs where some
    land on a blocked HOST (exact), some on any subdomain of a blocked
    registrable DOMAIN, some match a path/query regex, and NULL URLs
    are always dropped. Survivors keep (doc_id, url, host)."""
    ctx = _ctx(spark)
    page = (F.col("doc_id") % 40).cast("string")
    url = (
        F.when(F.col("doc_id") % 11 == 0, F.lit(None).cast("string"))
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("https://TRACKER.web.example.com/p/"), page),
        )
        .when(
            F.col("doc_id") % 7 == 1,
            F.concat(F.lit("http://"), F.col("source"),
                     F.lit(".Spam-Mirror.NET/item/"), page),
        )
        .when(
            F.col("doc_id") % 7 == 2,
            F.concat(F.lit("https://ok.example.org/view?session_id="), page),
        )
        .when(
            F.col("doc_id") % 7 == 3,
            F.concat(F.lit("https://ok.example.org/ads/banner/"), page),
        )
        .otherwise(
            F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".example.org/article/"), page),
        )
    )
    docs = _t(ctx, sf_dir, "documents").map(doc_id=F.col("doc_id"), url=url)
    from .prep import url_host

    return (
        docs.filter_urls("url", **_QA18_BLOCK)
        .map("doc_id", "url", host=url_host("url"))
        .df
    )


def _oracle_qa18() -> str:
    from .prep import sql_filter_urls, sql_url_host

    inp = """(
  SELECT doc_id,
         CASE
           WHEN doc_id % 11 = 0 THEN NULL
           WHEN doc_id % 7 = 0 THEN
             'https://TRACKER.web.example.com/p/' || (doc_id % 40)::VARCHAR
           WHEN doc_id % 7 = 1 THEN
             'http://' || source || '.Spam-Mirror.NET/item/' ||
             (doc_id % 40)::VARCHAR
           WHEN doc_id % 7 = 2 THEN
             'https://ok.example.org/view?session_id=' ||
             (doc_id % 40)::VARCHAR
           WHEN doc_id % 7 = 3 THEN
             'https://ok.example.org/ads/banner/' || (doc_id % 40)::VARCHAR
           ELSE
             'https://' || source || '.example.org/article/' ||
             (doc_id % 40)::VARCHAR
         END AS url
  FROM documents
)"""
    return sql_filter_urls(
        inp, "url",
        f"doc_id, url, {sql_url_host('url')} AS host",
        **_QA18_BLOCK,
    )


ORACLE_QA18 = _oracle_qa18()


def qa19_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget fill: rank documents by a quality proxy
    (longest first, doc_id tie-break), keep them while the inclusive
    running word-count total fits a 12,000-token budget. Exercises the
    skew-proof chunked global prefix sum end-to-end against DuckDB's
    window cumsum."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map(
        "doc_id",
        # deliberately INLINES token_count's tok_ws formula so the
        # oracle mirrors it literally (cast: Spark size() is INT,
        # DuckDB len() is BIGINT — the driver compares pandas dtypes)
        ntok=F.size(
            F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
        ).cast("long"),
    )
    order = F.struct(
        (-F.col("ntok")).alias("p"), F.col("doc_id").alias("t")
    )
    return (
        docs.take_token_budget("ntok", 12000, order=order)
        .map("doc_id", "ntok", "cum_tokens")
        .df
    )


def _oracle_qa19() -> str:
    from .prep import sql_take_token_budget

    inp = """(
  SELECT doc_id,
         len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '))
           AS ntok
  FROM documents
)"""
    return sql_take_token_budget(
        inp, "ntok", 12000, "-ntok, doc_id", "doc_id, ntok"
    )


ORACLE_QA19 = _oracle_qa19()


def qa20_quantile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-band selection (CCNet shape): keep documents whose
    length sits in the middle [0.25, 0.75] band of the corpus length
    distribution — drop both tails in one scan + 1-row-broadcast
    filter."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map(
        "doc_id", score=F.length("text").cast("double")
    )
    return docs.filter_by_score_quantile("score", 0.25, 0.75).df


def _oracle_qa20() -> str:
    from .prep import sql_filter_by_score_quantile

    inp = "(SELECT doc_id, length(text)::DOUBLE AS score FROM documents)"
    return sql_filter_by_score_quantile(inp, "score", 0.25, 0.75,
                                        "doc_id, score")


ORACLE_QA20 = _oracle_qa20()


def qa21_dedup_cluster_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level EXACT fuzzy dedup: the q83 pipeline shape with the
    lossless prefix-filtered pair join instead of MinHash banding —
    recall-1.0 transitive clusters, brute-force-pair oracle. Same
    chained input (doc → ' zzz' copy → ' zzz yyy www' copy-of-copy) so
    clusters only form through transitive closure."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    near = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id") + 100000,
        text=F.concat_ws(" ", F.col("text"), F.lit("zzz")),
    )
    far = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id") + 200000,
        text=F.concat_ws(" ", F.col("text"), F.lit("zzz yyy www")),
    )
    return (
        docs.merge(near).merge(far)
        .shuffle()
        .dedup_cluster_exact("text", "doc_id", shingle_n=5, threshold=0.6)
        .map("doc_id", "cluster_id", "is_canonical")
        .df
    )


def _oracle_qa21() -> str:
    from .datapipe import sql_dedup_cluster_exact

    inp = """(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text || ' zzz' FROM documents
  UNION ALL
  SELECT doc_id + 200000, text || ' zzz yyy www' FROM documents
)"""
    return sql_dedup_cluster_exact(
        inp, "text", "doc_id", shingle_n=5, threshold=0.6
    )


ORACLE_QA21 = _oracle_qa21()


def qa22_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation: documents gain deterministic terminators
    (a period after every 'merge', an exclamation after every 'join'),
    then split into (doc_id, sent_ix, sentence) rows — trimmed,
    min_chars-gated, index over kept sentences. Pure map-side explode;
    the oracle zips DuckDB's parallel unnests for the ordinal."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id"),
        text=F.regexp_replace(
            F.regexp_replace("text", "merge", "merge."), "join", "join!"
        ),
    )
    return docs.split_sentences("doc_id", "text", min_chars=3).df


def _oracle_qa22() -> str:
    from .prep import sql_split_sentences

    inp = """(
  SELECT doc_id,
         regexp_replace(regexp_replace(text, 'merge', 'merge.', 'g'),
                        'join', 'join!', 'g') AS text
  FROM documents
)"""
    return sql_split_sentences(inp, "doc_id", "text", min_chars=3)


ORACLE_QA22 = _oracle_qa22()


def qa23_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level dedup with reassembly: the qa22 terminator
    injection makes multi-sentence docs, and because the synthetic
    corpus repeats phrasing across documents, whole sentences recur —
    the first (doc_id, position) copy survives, every later copy is cut
    and each document is rebuilt from what remains, in order."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map(
        doc_id=F.col("doc_id"),
        text=F.regexp_replace(
            F.regexp_replace("text", "merge", "merge."), "join", "join!"
        ),
    )
    return docs.sentence_dedup("doc_id", "text", min_chars=3).df


def _oracle_qa23() -> str:
    from .prep import sql_sentence_dedup

    inp = """(
  SELECT doc_id,
         regexp_replace(regexp_replace(text, 'merge', 'merge.', 'g'),
                        'join', 'join!', 'g') AS text
  FROM documents
)"""
    return sql_sentence_dedup(inp, "doc_id", "text", min_chars=3)


ORACLE_QA23 = _oracle_qa23()


def qa24_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mix (T=3): per-source shares derived as n^(1/3) —
    head sources downsampled toward the rarest, which keeps fraction 1.
    Data-dependent targets distinguish this from q75's explicit-share
    rebalance; the canonical-order power-sum keeps both engines
    bit-identical."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "source")
    return docs.temperature_mix("doc_id", "source", temperature=3.0).df


def _oracle_qa24() -> str:
    from .prep import sql_temperature_mix

    return sql_temperature_mix(
        "(SELECT doc_id, source FROM documents)", "doc_id", "source",
        "doc_id, source", temperature=3.0,
    )


ORACLE_QA24 = _oracle_qa24()


def qa25_long_doc_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-document windowing: split every document into overlapping
    20-token windows at stride 15, last window clamped to the document
    end (always full-length) — the context-length preprocessing step
    that pairs with q76's pack_sequences for short docs."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    return docs.split_long_docs(
        "doc_id", "text", max_tokens=20, stride=15
    ).df


def _oracle_qa25() -> str:
    from .prep import sql_split_long_docs

    return sql_split_long_docs(
        "(SELECT doc_id, text FROM documents)", "doc_id", "text",
        max_tokens=20, stride=15,
    )


ORACLE_QA25 = _oracle_qa25()


def qa26_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT directed containment join (|A∩B|/|A| ≥ 0.8): 25-word
    excerpts of every 3rd kept document planted next to the originals —
    near-zero Jaccard (the excerpt is a sliver of the original) but
    containment ≈ 1, the sub-document duplication Jaccard-based dedup
    structurally misses. Lossless prefix filter; the oracle is plain
    brute force over all directed pairs."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").filter("doc_id % 5 = 0").map(
        "doc_id", "text"
    )
    excerpts = _t(ctx, sf_dir, "documents").filter("doc_id % 15 = 0").map(
        doc_id=F.col("doc_id") + 200000,
        text=F.array_join(F.slice(F.split("text", " "), 1, 25), " "),
    )
    return (
        docs.merge(excerpts)
        .shuffle()
        .containment_pairs_exact("text", "doc_id", shingle_n=3, threshold=0.8)
        .df
    )


_QA26_INPUT = """(
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 25), ' ')
           AS text
  FROM documents WHERE doc_id % 15 = 0
)"""


def _oracle_qa26() -> str:
    from .datapipe import sql_containment_pairs_exact

    return sql_containment_pairs_exact(
        _QA26_INPUT, "text", "doc_id", shingle_n=3, threshold=0.8
    )


ORACLE_QA26 = _oracle_qa26()


def qa27_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling: every embedding assigned to
    its IVF cell (q50's seeded Voronoi assignment), then a deterministic
    salted-hash quota of 8 rows per cell — stratified sampling in
    embedding space, capping each mode of a skewed corpus instead of
    reproducing the skew."""
    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings")
    return emb.diversity_sample(n_cells=16, per_cell=8).df


def _oracle_qa27() -> str:
    from .datapipe import sql_diversity_sample

    return sql_diversity_sample("embeddings", n_cells=16, per_cell=8)


ORACLE_QA27 = _oracle_qa27()


def qa28_ann_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC dedup against the persisted ANN index
    (SemDeDup as an ingest step): index the full embeddings corpus,
    then dedup a batch of positively-scaled copies of every 4th vector
    (cosine exactly 1 with their originals → dropped) merged with
    REVERSED vectors of every 8th (novel directions, max corpus cosine
    ≈ 0.5 → kept). The oracle composes the pinned-seed IVF+SQ8 ANN
    statement (corpus_expr pins the searched corpus to the index
    contents, excluding the batch) with a NOT EXISTS over its rank-1
    hits."""
    from .ann_index import ann_index_load

    ctx = _ctx(spark)
    corpus = _t(ctx, sf_dir, "embeddings").map("vec_id", "embedding")
    scaled = _t(ctx, sf_dir, "embeddings").filter("vec_id % 4 = 0").map(
        vec_id=F.col("vec_id") + 500000,
        embedding=F.transform("embedding", lambda x: x * F.lit(1.5)),
    )
    novel = _t(ctx, sf_dir, "embeddings").filter("vec_id % 8 = 1").map(
        vec_id=F.col("vec_id") + 600000,
        embedding=F.transform(
            F.reverse(F.col("embedding")), lambda x: x.cast("double")
        ),
    )
    batch = scaled.merge(novel)
    path = _tmp_index_path("renoir_ann_idx_dedup_", sf_dir)
    corpus.ann_index_build(path, n_cells=16)
    idx = ann_index_load(spark, path)
    return (
        idx.dedup_batch(batch, threshold=0.8, nprobe=3, rerank=10)
        .map("vec_id")
        .df
    )


_QA28_BATCH = """(
  SELECT vec_id + 500000 AS vec_id,
         list_transform(embedding::DOUBLE[], x -> x * 1.5) AS embedding
  FROM embeddings WHERE vec_id % 4 = 0
  UNION ALL
  SELECT vec_id + 600000 AS vec_id,
         list_transform(list_reverse(embedding), x -> x::DOUBLE)
           AS embedding
  FROM embeddings WHERE vec_id % 8 = 1
)"""


def _oracle_qa28() -> str:
    from .datapipe import sql_ann_cosine_ivf_sq8

    ann = sql_ann_cosine_ivf_sq8(
        _QA28_BATCH, "TRUE", k=1, n_cells=16, nprobe=3, rerank=10,
        seed_expr="embeddings", stats_expr="embeddings",
        corpus_expr="embeddings",
    )
    return f"""
SELECT b.vec_id
FROM {_QA28_BATCH} b
WHERE NOT EXISTS (
    SELECT 1 FROM ({ann}) a
    WHERE a.qid = b.vec_id AND a.rank = 1 AND a.cos >= 0.8
  )
"""


ORACLE_QA28 = _oracle_qa28()


def qa29_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle PSM reordering (code-infill training format):
    a deterministic hash-gated half of the documents is rewritten as
    <PRE> prefix <SUF> suffix <MID> middle with token split points
    derived from salted id hashes; the rest pass through unchanged.
    Pure map-side expressions, zero shuffles."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    return docs.fim_transform("doc_id", "text", rate=0.5).map(
        "doc_id", "fim_text"
    ).df


def _oracle_qa29() -> str:
    from .prep import sql_fim_transform

    inner = sql_fim_transform(
        "(SELECT doc_id, text FROM documents)", "doc_id", "text", rate=0.5
    )
    return f"SELECT doc_id, fim_text FROM ({inner})"


ORACLE_QA29 = _oracle_qa29()


def qa30_chunk_dedup_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup over documents ∪ insertion-shifted
    copies of every 3rd document (one word prepended): fixed-size
    chunks all shift and miss the duplication, but CDC boundaries
    re-synchronize at the first anchor token, so the copies dedup
    against the originals chunk-for-chunk past the insertion."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    shifted = _t(ctx, sf_dir, "documents").filter("doc_id % 3 = 0").map(
        doc_id=F.col("doc_id") + 300000,
        text=F.concat(F.lit("inserted "), F.col("text")),
    )
    return (
        docs.merge(shifted)
        .shuffle()
        .chunk_dedup_cdc("doc_id", "text", divisor=16)
        .df
    )


_QA30_INPUT = """(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 300000 AS doc_id, concat('inserted ', text) AS text
  FROM documents WHERE doc_id % 3 = 0
)"""


def _oracle_qa30() -> str:
    from .prep import sql_chunk_dedup_cdc

    return sql_chunk_dedup_cdc(_QA30_INPUT, "doc_id", "text", divisor=16)


ORACLE_QA30 = _oracle_qa30()


def qa31_semantic_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 text-side operators composed END TO END (the
    examples/semantic_curation.py pipeline as one oracle-checked
    statement): containment dedup (drop documents mostly contained in a
    longer one — the planted 25-word excerpts) → content-defined chunk
    dedup (cross-document boilerplate chunks collapse to their first
    occurrence) → fill-in-the-middle transform on a deterministic half
    of the survivors. Each stage is oracle-verified alone (qa26 / qa30 /
    qa29); this query pins that they also compose — the q80 discipline
    (a pipeline is only as verified as its seams)."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").filter("doc_id % 5 = 0").map(
        "doc_id", "text"
    )
    excerpts = _t(ctx, sf_dir, "documents").filter("doc_id % 15 = 0").map(
        doc_id=F.col("doc_id") + 200000,
        text=F.array_join(F.slice(F.split("text", " "), 1, 25), " "),
    )
    merged = docs.merge(excerpts).shuffle()
    contained = (
        merged.containment_pairs_exact(
            "text", "doc_id", shingle_n=3, threshold=0.8
        )
        .map(F.col("inner_id").alias("doc_id"))
        .df.distinct()
    )
    standalone = ctx.from_df(merged.df.join(contained, "doc_id", "left_anti"))
    cdc = standalone.chunk_dedup_cdc("doc_id", "text", divisor=16)
    fim_in = ctx.from_df(
        cdc.df.select("doc_id", F.col("clean_text").alias("text"))
    )
    return (
        fim_in.fim_transform("doc_id", "text", rate=0.5)
        .map("doc_id", "fim_text")
        .df
    )


def _oracle_qa31() -> str:
    from .datapipe import sql_containment_pairs_exact
    from .prep import sql_chunk_dedup_cdc, sql_fim_transform

    cont = sql_containment_pairs_exact(
        _QA26_INPUT, "text", "doc_id", shingle_n=3, threshold=0.8
    )
    surv = f"""(
  SELECT doc_id, text FROM {_QA26_INPUT}
  WHERE doc_id NOT IN (SELECT inner_id FROM ({cont}))
)"""
    cdc = sql_chunk_dedup_cdc(surv, "doc_id", "text", divisor=16)
    fim = sql_fim_transform(
        f"(SELECT doc_id, clean_text AS text FROM ({cdc}))",
        "doc_id", "text", rate=0.5,
    )
    return f"SELECT doc_id, fim_text FROM ({fim})"


ORACLE_QA31 = _oracle_qa31()


def qa32_semantic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMBEDDING-side curation pipeline composed end to end
    (qa31's sibling — examples/semantic_curation.py's vector half as
    one oracle-checked statement): incremental semantic dedup of a
    batch against the persisted ANN index (planted scaled copies drop,
    reversed novels survive — qa28's increment) → cluster-balanced
    diversity sampling of the survivors (fresh seeded IVF cells over
    the survivor set, per-cell salted-hash quota). Pins the seam the
    single-operator oracles can't: the sampler's seeded centroids are
    derived from the DEDUP OUTPUT, so any drift in the survivor set
    re-shapes every downstream cell assignment."""
    from .ann_index import ann_index_load

    ctx = _ctx(spark)
    corpus = _t(ctx, sf_dir, "embeddings").map("vec_id", "embedding")
    scaled = _t(ctx, sf_dir, "embeddings").filter("vec_id % 4 = 0").map(
        vec_id=F.col("vec_id") + 500000,
        embedding=F.transform("embedding", lambda x: x * F.lit(1.5)),
    )
    novel = _t(ctx, sf_dir, "embeddings").filter("vec_id % 8 = 1").map(
        vec_id=F.col("vec_id") + 600000,
        embedding=F.transform(
            F.reverse(F.col("embedding")), lambda x: x.cast("double")
        ),
    )
    batch = scaled.merge(novel)
    path = _tmp_index_path("renoir_ann_semingest_", sf_dir)
    corpus.ann_index_build(path, n_cells=16)
    idx = ann_index_load(spark, path)
    survivors = idx.dedup_batch(batch, threshold=0.8, nprobe=3, rerank=10)
    return survivors.diversity_sample(
        vec_col="embedding", id_col="vec_id", n_cells=8, per_cell=4
    ).df


def _oracle_qa32() -> str:
    from .datapipe import sql_ann_cosine_ivf_sq8, sql_diversity_sample

    ann = sql_ann_cosine_ivf_sq8(
        _QA28_BATCH, "TRUE", k=1, n_cells=16, nprobe=3, rerank=10,
        seed_expr="embeddings", stats_expr="embeddings",
        corpus_expr="embeddings",
    )
    surv = f"""(
  SELECT b.vec_id, b.embedding FROM {_QA28_BATCH} b
  WHERE NOT EXISTS (
      SELECT 1 FROM ({ann}) a
      WHERE a.qid = b.vec_id AND a.rank = 1 AND a.cos >= 0.8
    )
)"""
    return sql_diversity_sample(surv, n_cells=8, per_cell=4)


ORACLE_QA32 = _oracle_qa32()


def qa33_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded epoch shuffle + worker sharding: every
    document gets its 1-based position in the (seed, epoch)-keyed
    permutation and a round-robin shard — the reproducible-training-
    order primitive (a resumed run must replay the exact order; an
    audit must reconstruct step N's batch). The distributed
    zipWithIndex (range-partition on the hash + broadcast offsets)
    must match the oracle's single brute-force global window
    bit-for-bit."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id")
    return docs.epoch_shuffle("doc_id", seed=7, epoch=2, n_shards=4).df


def _oracle_qa33() -> str:
    from .prep import sql_epoch_shuffle

    return sql_epoch_shuffle(
        "(SELECT doc_id FROM documents)", "doc_id", "doc_id",
        seed=7, epoch=2, n_shards=4,
    )


ORACLE_QA33 = _oracle_qa33()


def qa34_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-order OUTPUT side composed end to end (qa31/qa32's
    last-mile sibling — the q80 seam discipline applied to what leaves
    the engine): token accounting (``token_count``) → fixed-size
    sequence packing (``pack_sequences`` — deterministic two-level hash
    layout, a doc belongs to the pack where it STARTS) → pack-level
    manifest (docs + tokens per pack) → deterministic seeded epoch
    shuffle with round-robin worker shards OVER THE PACKS
    (``epoch_shuffle`` — the order a dataloader replays) → the whole
    shuffled manifest round-tripped through a shard-partitioned parquet
    write (``write_parquet(partition_by=["shard"])``), so the hive
    layout a trainer reads is on the verified path too. Pins the
    seams single-operator oracles can't: pack ids feed the shuffle
    hash, so any packing drift re-orders the epoch; the read-back pins
    the persisted shard layout."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    packed = docs.token_count("text").pack_sequences(
        "doc_id", "tok_bpe", max_tokens=2048, n_buckets=16
    )
    packs = ctx.from_df(
        packed.df.groupBy("pack_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok_bpe").alias("tok_sum"),
        )
    )
    ordered = packs.epoch_shuffle("pack_id", seed=11, epoch=3, n_shards=4)
    path = _tmp_index_path("renoir_train_order_", sf_dir)
    ordered.map(
        "pack_id", "n_docs", "tok_sum", "shuffle_pos", "shard"
    ).write_parquet(path, partition_by=["shard"])
    return spark.read.schema(
        "pack_id long, n_docs long, tok_sum long, shuffle_pos long, "
        "shard long"
    ).parquet(path).select(
        "pack_id", "n_docs", "tok_sum", "shuffle_pos", "shard"
    )


def _oracle_qa34() -> str:
    from .datapipe import sql_token_count
    from .prep import sql_epoch_shuffle, sql_pack_sequences

    tc = sql_token_count("documents", "text", "doc_id")
    packed = sql_pack_sequences(
        f"({tc})", "doc_id", "tok_bpe", max_tokens=2048, n_buckets=16
    )
    packs = f"""(
  SELECT pack_id, count(*) AS n_docs,
         CAST(sum(tok_bpe) AS BIGINT) AS tok_sum
  FROM ({packed}) GROUP BY pack_id
)"""
    return sql_epoch_shuffle(
        packs, "pack_id", "pack_id, n_docs, tok_sum",
        seed=11, epoch=3, n_shards=4,
    )


ORACLE_QA34 = _oracle_qa34()


def qa35_diversity_autodial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUTO-DIAL path itself, oracle-checked (the r6 stretch ask):
    ``diversity_sample`` with the scale-safe DEFAULT ``n_cells=None`` —
    the ``max(16, ⌈√N⌉)`` dial every 100 TB caller now gets — verified
    bit-exactly by a DuckDB mirror whose cell count is the SAME dial
    computed as a scalar subquery (exact integer ceil-sqrt over a ±1
    candidate set, so no float-ulp trap near perfect squares). qa27
    keeps the pinned-16 form; this query proves the DIALED form, so
    the default path is no longer a documented-but-unverified regime."""
    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings").map("vec_id", "embedding")
    return emb.diversity_sample(n_cells=None, per_cell=6).df


def _oracle_qa35() -> str:
    from .datapipe import sql_diversity_sample

    dial = """(
  SELECT GREATEST(16, MIN(r))
  FROM (SELECT unnest([f - 1, f, f + 1]) AS r, n
        FROM (SELECT CAST(FLOOR(SQRT(n)) AS BIGINT) AS f, n
              FROM (SELECT count(*) AS n FROM embeddings)))
  WHERE r >= 0 AND r * r >= n
)"""
    return sql_diversity_sample("embeddings", n_cells=dial, per_cell=6)


ORACLE_QA35 = _oracle_qa35()


def qa36_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (the incremental-build / release-audit
    primitive): two deterministic versions of the documents table —
    ``old`` misses the ``doc_id % 11 = 3`` rows (so they diff as
    ``added``), ``new`` misses ``doc_id % 7 = 2`` (``removed``) and
    rewrites the text of ``doc_id % 5 = 1`` (``changed``) — through
    ``corpus_diff`` on the (text, lang, source) content hash. Pins the
    sentinel NULL/empty discipline and the full-outer status CASE; rows
    the driver hashes are exactly the delta, never the corpus."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text", "lang",
                                            "source")
    old = docs.filter("doc_id % 11 <> 3")
    new = docs.filter("doc_id % 7 <> 2").map(
        doc_id=F.col("doc_id"),
        text=F.when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.col("text"), F.lit(" [rev2]")),
        ).otherwise(F.col("text")),
        lang=F.col("lang"),
        source=F.col("source"),
    )
    return new.corpus_diff(old, "doc_id", ["text", "lang", "source"]).df


def _oracle_qa36() -> str:
    from .datapipe import sql_corpus_diff

    new = """(
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 1 THEN text || ' [rev2]' ELSE text END
           AS text,
         lang, source
  FROM documents WHERE doc_id % 7 <> 2
)"""
    old = "(SELECT doc_id, text, lang, source FROM documents " \
          "WHERE doc_id % 11 <> 3)"
    return sql_corpus_diff(new, old, "doc_id", ["text", "lang", "source"])


ORACLE_QA36 = _oracle_qa36()


def qa37_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-level shingle overlap between two overlapping slices
    of the documents table (thirds {0,1} vs {1,2} of doc_id % 3): one
    row of distinct-shingle counts + jaccard + both containments — the
    "how much of corpus B is already in A" statistic. The KMV one-pass
    estimator for the same numbers is pytest-verified against this
    exact form (tests/test_round7.py)."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    a = docs.filter("doc_id % 3 < 2")
    b = docs.filter("doc_id % 3 > 0")
    return a.corpus_overlap(b, "text").df


def _oracle_qa37() -> str:
    from .datapipe import sql_corpus_overlap

    return sql_corpus_overlap(
        "(SELECT * FROM documents WHERE doc_id % 3 < 2)",
        "(SELECT * FROM documents WHERE doc_id % 3 > 0)",
        "text",
    )


ORACLE_QA37 = _oracle_qa37()


def qa38_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split, composed end to end: MinHash
    cluster dedup assigns every document its duplicate-cluster id, the
    split hashes the CLUSTER key (``assign_split_by_group``) so near-
    duplicates co-split, and ``split_leakage`` audits BOTH assignments —
    the group-keyed one (structurally 0 leaky groups) against the naive
    per-id hash on the same corpus (>0: the contamination channel this
    operator closes). Output: per-split doc counts + the two audit
    scalars on every row."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    clustered = docs.dedup_cluster_minhash("text", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    safe = clustered.assign_split_by_group("cluster_id", w, salt="s7")
    naive = clustered.assign_split("doc_id", w, salt="s7")
    per = safe.df.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))
    leak_safe = safe.split_leakage("cluster_id").df.agg(
        F.count(F.lit(1)).alias("leaky_groups_safe")
    )
    leak_naive = naive.split_leakage("cluster_id").df.agg(
        F.count(F.lit(1)).alias("leaky_groups_naive")
    )
    return per.crossJoin(leak_safe).crossJoin(leak_naive)


def _oracle_qa38() -> str:
    from .datapipe import sql_dedup_cluster_minhash
    from .prep import sql_assign_split, sql_split_leakage

    clustered = sql_dedup_cluster_minhash(
        "(SELECT doc_id, text FROM documents)", "text", "doc_id"
    )
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    safe = sql_assign_split(f"({clustered})", "cluster_id", w, salt="s7")
    naive = sql_assign_split(f"({clustered})", "doc_id", w, salt="s7")
    ls = sql_split_leakage(f"({safe})", "cluster_id")
    ln = sql_split_leakage(f"({naive})", "cluster_id")
    return f"""
SELECT p.split, p.n_docs, a.leaky_groups_safe, b.leaky_groups_naive
FROM (SELECT split, count(*) AS n_docs FROM ({safe}) GROUP BY split) p,
     (SELECT count(*) AS leaky_groups_safe FROM ({ls})) a,
     (SELECT count(*) AS leaky_groups_naive FROM ({ln})) b
"""


ORACLE_QA38 = _oracle_qa38()


def qa39_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: BM25 top-40 over
    documents for a 3-term bag + cosine top-40 over embeddings against
    corpus vector 7, fused as Σ 1/(60+rank) and cut to the top 15 —
    both candidate legs are TakeOrdered (the corpus never globally
    sorts) and the fusion join runs on ≤80 rows. The two legs share the
    doc_id ≡ vec_id key; at scale the cosine leg swaps for the
    partition-filtered AnnIndex probe (rank-only contract)."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    embs = _t(ctx, sf_dir, "embeddings").map("vec_id", "embedding")
    return docs.hybrid_search(
        embs, ["hash", "merge", "vector"], 7, n_candidates=40, k=15
    ).df


def _oracle_qa39() -> str:
    from .datapipe import sql_hybrid_search

    return sql_hybrid_search(
        "documents", "embeddings", ["hash", "merge", "vector"],
        "vec_id = 7", n_candidates=40, k=15,
    )


ORACLE_QA39 = _oracle_qa39()


def qa40_incremental_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus rebuild on the qa36 snapshot pair: the Spark
    side reprocesses ONLY the diff delta (stale rows dropped from the
    previous curated output, added/changed docs through the per-doc-pure
    Gopher gate, union), while the ORACLE is the FROM-SCRATCH pipeline
    over the whole new snapshot — so the driver hash pins the
    incremental ≡ scratch identity itself, cross-engine. The property
    version (random edit scripts) is in tests/test_round7.py."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    old = docs.filter("doc_id % 11 <> 3")
    new = docs.filter("doc_id % 7 <> 2").map(
        doc_id=F.col("doc_id"),
        text=F.when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.col("text"), F.lit(" [rev2]")),
        ).otherwise(F.col("text")),
    )

    def curate(s):
        return s.quality_gopher("text").filter("q_keep").map(
            "doc_id", "q_tokens", "q_mean_word_len"
        )

    prev = curate(old)  # stands in for the previous run's persisted output
    return new.incremental_rebuild(old, prev, "doc_id", ["text"], curate).df


def _oracle_qa40() -> str:
    from .prep import sql_quality_gopher

    new = """(
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 1 THEN text || ' [rev2]' ELSE text END
           AS text
  FROM documents WHERE doc_id % 7 <> 2
)"""
    scratch = sql_quality_gopher(new, "text", "doc_id")
    return (
        f"SELECT doc_id, q_tokens, q_mean_word_len FROM ({scratch}) "
        "WHERE q_keep"
    )


ORACLE_QA40 = _oracle_qa40()


def qa41_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM scoring over documents (the KenLM-shaped
    perplexity filter one order above q98's unigram): per-doc mean
    ln(λ·P(w₂|w₁) + (1−λ)·P₁(w₂)) with the model trained on the corpus
    itself — locally scrambled word order scores low even when the
    unigram distribution is identical (the pytest pins exactly that
    pair). Two wordcount-shaped model passes + per-(doc,bigram) joins;
    per-doc float terms fold in canonical sorted order on both
    engines."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    return docs.bigram_logprob("doc_id", "text").df


def _oracle_qa41() -> str:
    from .prep import sql_bigram_logprob

    return sql_bigram_logprob("documents", "doc_id", "text")


ORACLE_QA41 = _oracle_qa41()


def qa42_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call dataset card over documents: size (docs / tokens /
    mean / exact-median length), hygiene (exact-dup rate on the
    normalized content hash, Gopher pass rate, any-PII doc rate), the
    heuristic language mix, AND — round 9, the media layer — the
    decoded-evidence rate and the Hamming-0 perceptual-signature dup
    rate (``features_col=``, the qa44 fake-codec decode feeding the
    same one-aggregate pass), as (metric, value) rows — the numbers a
    corpus release ships, composed from the verified primitives and
    bit-exact against one mirrored SQL statement."""
    ctx = _ctx(spark)
    docs = (
        _t(ctx, sf_dir, "documents")
        .map(
            doc_id=F.col("doc_id"),
            text=F.col("text"),
            content=F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"),
        )
        .shuffle()
        .decode_image(n_features=48, columns=["doc_id", "text"])
    )
    return docs.corpus_report(
        "doc_id", "text", features_col="image_features",
        phash_bits=48,  # the query controls the decode width — no probe
    ).df


def _oracle_qa42() -> str:
    from .prep import sql_corpus_report

    fs = [
        "('0x' || substr(md5('img:' || "
        f"{i} || ':' || md5(coalesce(text, ''))), 1, 8))::BIGINT"
        " / 4294967296.0"
        for i in range(48)
    ]
    return sql_corpus_report(
        "(SELECT doc_id, text FROM documents)", "doc_id", "text",
        fs_exprs=fs, phash_bits=48,
    )


ORACLE_QA42 = _oracle_qa42()


def qa43_corpus_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k ESTIMATE of qa37's exact corpus overlap, same
    overlapping document slices: per corpus a per-partition bottom-k
    ``mapInPandas`` sketch (only k·partitions rows ever shuffle — the
    100 TB escape from the exact pass's corpus-wide key shuffle), two
    k-long sketches merged driver-side into the Beyer-et-al. estimator.
    The estimate is partitioning-INDEPENDENT (bottom-k of per-partition
    bottom-k distinct ≡ global bottom-k distinct), so the oracle
    recomputes the identical numbers with a global DISTINCT/LIMIT.
    Floats rounded to 6 on both sides (float-determinism discipline)."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    a = docs.filter("doc_id % 3 < 2")
    b = docs.filter("doc_id % 3 > 0")
    est = a.corpus_overlap_kmv(b, "text", k=256)
    return est.df.select(
        "k_eff",
        F.round("union_est", 6).alias("union_est"),
        F.round("inter_est", 6).alias("inter_est"),
        F.round("jaccard_est", 6).alias("jaccard_est"),
    )


def _oracle_qa43() -> str:
    from .datapipe import sql_corpus_overlap_kmv

    inner = sql_corpus_overlap_kmv(
        "(SELECT * FROM documents WHERE doc_id % 3 < 2)",
        "(SELECT * FROM documents WHERE doc_id % 3 > 0)",
        "text", k=256,
    )
    return f"""
SELECT k_eff, round(union_est, 6) AS union_est,
       round(inter_est, 6) AS inter_est,
       round(jaccard_est, 6) AS jaccard_est
FROM ({inner})
"""


ORACLE_QA43 = _oracle_qa43()


def qa44_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-duplicate dedup end-to-end: text bytes stand in
    for image blobs (the q51 convention), ``decode_image`` runs the
    deterministic fake codec (md5-derived features —
    multimodal._md5_floats), and ``dedup_phash`` drops images whose
    perceptual hash (bit j = feature_j ≥ mean) lands within Hamming
    distance 3 (the operator default — both sides run it), keeping
    the smallest doc_id per near-dup set. The
    oracle recomputes the fake-codec features AND the whole banded
    Hamming pipeline in SQL. NULL text is coalesced to '' on both
    sides (a NULL blob has no bytes to decode)."""
    ctx = _ctx(spark)
    decoded = (
        _t(ctx, sf_dir, "documents")
        .map(
            doc_id=F.col("doc_id"),
            content=F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"),
        )
        .shuffle()  # single-file scan → parallel decode
        # columns=: only doc_id + decoded fields come back across the
        # Arrow boundary (the blob bytes don't ride the return trip)
        .decode_image(n_features=48, columns=["doc_id"])  # 12-bit bands
        #                 (8 features = the measured quadratic band trap)
    )
    kept = decoded.dedup_phash("image_features", "doc_id")
    return kept.df.select("doc_id", "image_width", "image_height")


def _oracle_qa44() -> str:
    from .datapipe import sql_dedup_phash

    fs = [
        "('0x' || substr(md5('img:' || "
        f"{i} || ':' || md5(coalesce(text, ''))), 1, 8))::BIGINT"
        " / 4294967296.0"
        for i in range(48)
    ]
    inner = sql_dedup_phash(
        "documents", fs, "doc_id",
        "doc_id, "
        "16 + ('0x' || substr(md5(coalesce(text, '')), 1, 2))::INT % 64"
        " AS image_width, "
        "16 + ('0x' || substr(md5(coalesce(text, '')), 3, 2))::INT % 64"
        " AS image_height",
        bits=48,
    )
    return inner


ORACLE_QA44 = _oracle_qa44()


def qa45_bigram_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """qa41's interpolated bigram LM with the ``buckets=`` 100 TB dial:
    both model relations are hashed-bucket pooled (≤ 4096 rows here —
    the exact bigram model is corpus-sized at worst), one shared md5
    31-bit hash per TOKEN, pair keys derived arithmetically. The
    oracle mirrors the bucketed pipeline itself; the exact-vs-bucketed
    parity (injective-regime bit-equality, ordering under heavy
    pooling) is pinned in tests/test_round8.py."""
    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")
    return docs.bigram_logprob("doc_id", "text", buckets=4096).df


def _oracle_qa45() -> str:
    from .prep import sql_bigram_logprob_bucketed

    return sql_bigram_logprob_bucketed(
        "documents", "doc_id", "text", buckets=4096
    )


ORACLE_QA45 = _oracle_qa45()


def qa46_phash_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media DECONTAMINATION against a benchmark set: every 23rd
    document plays the held-out eval image; corpus items whose
    48-bit perceptual hash lands within Hamming distance 3 of ANY
    reference hash are dropped (the reference rows themselves match at
    distance 0, so they must all disappear from the output). The
    reference collapses to one broadcast array of signature longs —
    zero corpus shuffles; the oracle recomputes both sides' fake-codec
    hashes and the NOT EXISTS verdict in SQL."""
    ctx = _ctx(spark)

    # filter BEFORE decoding: a predicate cannot push through the
    # Arrow decode stage, so decode-then-filter would re-decode the
    # whole table for the (tiny) reference leg
    def decoded(pred: str):
        return (
            _t(ctx, sf_dir, "documents").filter(pred)
            .map(
                doc_id=F.col("doc_id"),
                content=F.encode(
                    F.coalesce(F.col("text"), F.lit("")), "UTF-8"
                ),
            )
            .shuffle()
            .decode_image(n_features=48, columns=["doc_id"])
        )

    corpus = decoded("true")
    ref = decoded("doc_id % 23 = 0")
    kept = corpus.dedup_phash_against(ref, "image_features")
    return kept.df.select("doc_id", "image_width", "image_height")


def _oracle_qa46() -> str:
    from .datapipe import sql_dedup_phash_against

    fs = [
        "('0x' || substr(md5('img:' || "
        f"{i} || ':' || md5(coalesce(text, ''))), 1, 8))::BIGINT"
        " / 4294967296.0"
        for i in range(48)
    ]
    return sql_dedup_phash_against(
        "(SELECT doc_id, text FROM documents)",
        "(SELECT text FROM documents WHERE doc_id % 23 = 0)",
        fs, fs,
        "doc_id, "
        "16 + ('0x' || substr(md5(coalesce(text, '')), 1, 2))::INT % 64"
        " AS image_width, "
        "16 + ('0x' || substr(md5(coalesce(text, '')), 3, 2))::INT % 64"
        " AS image_height",
        bits=48,
    )


ORACLE_QA46 = _oracle_qa46()


_QA47_FS = [
    "('0x' || substr(md5('img:' || "
    f"{i} || ':' || md5(coalesce(text, ''))), 1, 8))::BIGINT"
    " / 4294967296.0"
    for i in range(48)
]


def qa47_phash_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest round trip on the persisted PERCEPTUAL-HASH
    index (the multimodal member of the persisted-index family): build
    over the decoded corpus, dedup increment 1 against it, ``append``
    the survivors, then dedup increment 2 — which must now lose items
    near-duplicating EITHER the corpus or increment 1's survivors,
    without any image being re-decoded. Postings are read under the
    literal hive-partition filter; the 8-byte signature is the whole
    verifier (no second relation). The oracle recomputes both dedup
    steps from the fake-codec hashes in one nested SQL statement."""
    from .dedup_index import phash_index_load

    ctx = _ctx(spark)

    # filter BEFORE decoding (predicates cannot push through the Arrow
    # decode stage — decode-then-filter re-decodes the full table per
    # branch per action, measured pathological at 10×)
    def decoded(pred: str):
        return (
            _t(ctx, sf_dir, "documents").filter(pred)
            .map(
                doc_id=F.col("doc_id"),
                content=F.encode(
                    F.coalesce(F.col("text"), F.lit("")), "UTF-8"
                ),
            )
            .shuffle()
            .decode_image(n_features=48, columns=["doc_id"])
        )

    corpus = decoded("doc_id % 5 > 1")
    b1 = decoded("doc_id % 5 = 0")
    b2 = decoded("doc_id % 5 = 1")
    path = _tmp_index_path("renoir_phash_idx_", sf_dir)
    corpus.phash_index_build(path, id_col="doc_id", bits=48,
                             bucket_dirs=16)
    idx = phash_index_load(spark, path)
    s1 = idx.dedup_batch(b1)
    idx.append(s1)
    return (
        idx.dedup_batch(b2)
        .df.select("doc_id", "image_width", "image_height")
    )


def _oracle_qa47() -> str:
    from .dedup_index import sql_phash_index_batch

    corpus = "(SELECT doc_id, text FROM documents WHERE doc_id % 5 > 1)"
    b1 = "(SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0)"
    b2 = "(SELECT doc_id, text FROM documents WHERE doc_id % 5 = 1)"
    s1 = "(" + sql_phash_index_batch(
        corpus, b1, _QA47_FS, "doc_id", "t.doc_id, t.text", bits=48
    ) + ")"
    ref2 = (f"(SELECT doc_id, text FROM {corpus} "
            f"UNION ALL SELECT doc_id, text FROM {s1})")
    return sql_phash_index_batch(
        ref2, b2, _QA47_FS, "doc_id",
        "t.doc_id, "
        "16 + ('0x' || substr(md5(coalesce(t.text, '')), 1, 2))::INT % 64"
        " AS image_width, "
        "16 + ('0x' || substr(md5(coalesce(t.text, '')), 3, 2))::INT % 64"
        " AS image_height",
        bits=48,
    )


ORACLE_QA47 = _oracle_qa47()


def qa48_video_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate dedup end-to-end: text bytes stand in for
    video files, ``sample_frames`` decodes 4 frames per item (48-entry
    grids via the deterministic fake frame codec), each frame gets a
    perceptual hash, and two items are duplicates when ≥ 3 ALIGNED
    frames land within Hamming distance 3 (the majority vote that
    survives re-encodes with changed intros). The oracle recomputes
    all 4 × 48 fake frame features AND the aligned-band vote in SQL."""
    ctx = _ctx(spark)
    vids = (
        _t(ctx, sf_dir, "documents")
        .map(
            doc_id=F.col("doc_id"),
            content=F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"),
        )
        .shuffle()
    )
    kept = vids.dedup_video_phash("doc_id", "content")
    return kept.df.select("doc_id")


def _oracle_qa48() -> str:
    from .multimodal import sql_dedup_video_phash

    def frame_fs(fidx: int, j: int) -> str:
        return (
            f"('0x' || substr(md5('frm{fidx}:' || {j} || ':' || "
            "md5(coalesce(text, ''))), 1, 8))::BIGINT / 4294967296.0"
        )

    return sql_dedup_video_phash(
        "documents", "doc_id", "doc_id", frame_fs=frame_fs,
    )


ORACLE_QA48 = _oracle_qa48()


def qa49_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining over the embeddings table: positives are
    the in-cell cosine-≥0.95 pairs SemDeDup would discard, hard
    negatives the 2 highest-cosine same-cell pairs per anchor at ≤ 0.8
    — the supervision an embedding-model trainer wants, mined from the
    corpus's own Voronoi geometry in one cell-bounded self-join plus a
    per-anchor window. Runs the DEFAULT target_cell_size auto-dial;
    the oracle follows it via a scalar-subquery LIMIT (the qa35
    pattern), so the suite form is the scale-safe form — no pinned
    cell count anywhere."""
    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings")
    return emb.mine_contrastive_pairs(
        pos_threshold=0.95, neg_max_cos=0.8, neg_per_anchor=2,
    ).df  # DEFAULT target_cell_size dial — the oracle follows it


def _oracle_qa49() -> str:
    from .datapipe import sql_mine_contrastive_pairs

    # the Spark side's max(1, ceil(n / 200)) auto-dial as a DuckDB
    # scalar-subquery LIMIT (the qa35 pattern) — no pinned cell count
    dial = ("(SELECT GREATEST(1, CAST(CEIL(count(*) / 200.0) AS BIGINT))"
            " FROM embeddings)")
    return sql_mine_contrastive_pairs(
        "embeddings", pos_threshold=0.95, neg_max_cos=0.8,
        neg_per_anchor=2, n_cells=dial,
    )


ORACLE_QA49 = _oracle_qa49()


def qa50_contrastive_cross_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """qa49's contrastive mining with ``cross_cell=1`` — hard negatives
    are additionally mined from each cell's nearest NEIGHBORING
    centroid (rounded-cosine adjacency, one extra bounded equi-join):
    in-cell-only mining structurally misses negatives that sit just
    across a Voronoi boundary, often the hardest of all (planted
    geometry pinned in tests/test_round9.py). Positives stay in-cell.
    Same DEFAULT target_cell_size auto-dial as qa49; the oracle follows
    both the dial and the adjacency rule in SQL."""
    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings")
    return emb.mine_contrastive_pairs(
        pos_threshold=0.95, neg_max_cos=0.8, neg_per_anchor=2,
        cross_cell=1,
    ).df


def _oracle_qa50() -> str:
    from .datapipe import sql_mine_contrastive_pairs

    dial = ("(SELECT GREATEST(1, CAST(CEIL(count(*) / 200.0) AS BIGINT))"
            " FROM embeddings)")
    return sql_mine_contrastive_pairs(
        "embeddings", pos_threshold=0.95, neg_max_cos=0.8,
        neg_per_anchor=2, n_cells=dial, cross_cell=1,
    )


ORACLE_QA50 = _oracle_qa50()


def qa51_align_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text ALIGNMENT gate (the CLIP-score quality filter every
    multimodal corpus ships through — LAION-style): text bytes stand
    in for image blobs (the q51/qa44 convention), every third doc gets
    a deliberately WRONG caption, ``embed_text`` runs the fake joint-
    space text tower through the codec registry (the
    ``register_codec("text_embed", ...)`` production seam), and
    ``align_filter`` keeps pairs whose caption-to-image cosine clears
    the absolute threshold. Under the fake joint space a matching
    caption scores exactly 1.0 and a wrong one lands at its md5-chance
    cosine, so the gate separates the planted thirds. One Arrow pass
    per tower + codegen cosine + map-side filter — zero shuffles; the
    oracle recomputes both towers' features and the same zero-safe
    rounded cosine in SQL."""
    ctx = _ctx(spark)
    wrong = F.concat(F.lit("WRONG "), F.coalesce(F.col("text"), F.lit("")))
    docs = (
        _t(ctx, sf_dir, "documents")
        .map(
            doc_id=F.col("doc_id"),
            caption=F.when(F.col("doc_id") % 3 != 0,
                           F.coalesce(F.col("text"), F.lit("")))
            .otherwise(wrong),
            content=F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"),
        )
        .shuffle()  # single-file scan → parallel decode
        .decode_image(n_features=16, columns=["doc_id", "caption"])
    )
    kept = docs.align_filter(
        text_col="caption", features_col="image_features",
        min_cos=0.97, n_features=16,
    )
    return kept.df.select("doc_id", "align_cos")


def _oracle_qa51() -> str:
    from .multimodal import sql_align_filter

    cap = ("CASE WHEN doc_id % 3 <> 0 THEN coalesce(text, '') "
           "ELSE 'WRONG ' || coalesce(text, '') END")
    return sql_align_filter(
        "documents", "coalesce(text, '')", cap,
        "doc_id, align_cos", n_features=16, min_cos=0.97,
    )


ORACLE_QA51 = _oracle_qa51()


def qa52_ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAKEDOWN round trip on the persisted ANN index: build over the
    embeddings, ``delete_batch`` every 7th vector (the copyright/PII
    removal loop — tombstones, not a rewrite), then query — deleted
    vectors must vanish from every top-k result IMMEDIATELY (an
    anti-join on the cell-pruned tombstone relation inside the probe,
    so a deleted vector can never occupy a candidate slot) while
    survivors keep their exact ranks. Centroids and the SQ8 grid stay
    frozen at build values (deletion is not a retrain), which is
    exactly what the oracle mirrors: seeds/stats from the FULL corpus,
    candidates from the corpus minus the deleted set."""
    from .ann_index import ann_index_load

    ctx = _ctx(spark)
    emb = _t(ctx, sf_dir, "embeddings")
    path = _tmp_index_path("renoir_ann_tomb_", sf_dir)
    emb.ann_index_build(path, n_cells=16)
    idx = ann_index_load(spark, path)
    idx.delete_batch(emb.filter("vec_id % 7 = 0"))
    queries = emb.filter("vec_id < 6")
    return idx.query(queries, k=3, nprobe=3, rerank=10).df


def _oracle_qa52() -> str:
    from .datapipe import sql_ann_cosine_ivf_sq8

    return sql_ann_cosine_ivf_sq8(
        "embeddings", "vec_id < 6", k=3, n_cells=16, nprobe=3,
        rerank=10,
        corpus_expr="(SELECT * FROM embeddings WHERE vec_id % 7 <> 0)",
    )


ORACLE_QA52 = _oracle_qa52()


def qa53_dedup_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown round trip on the persisted MinHash dedup index: build
    over 4/5 of the documents, ``delete_batch`` the indexed docs with
    ``doc_id % 3 = 0``, then dedup the held-out 1/5 — batch rows whose
    ONLY near-duplicates were deleted must now SURVIVE (the takedown
    un-suppresses them), rows matching a live doc still drop. Probes
    anti-join the tombstone relation (pruned by the same candidate
    id-hash rule as the shingle re-attach) before verification; the
    oracle recomputes the whole chain against the corpus minus the
    deleted set."""
    from .dedup_index import dedup_index_load

    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents")
    corpus = docs.filter("doc_id % 5 != 0")
    batch = docs.filter("doc_id % 5 = 0")
    path = _tmp_index_path("renoir_dedup_tomb_", sf_dir)
    corpus.dedup_index_build(path, text_col="text", id_col="doc_id",
                             bucket_dirs=16)
    idx = dedup_index_load(spark, path)
    idx.delete_batch(corpus.filter("doc_id % 3 = 0"))
    return (
        idx.dedup_batch(batch, threshold=0.7)
        .df.select("doc_id", "lang", "n_chars")
    )


def _oracle_qa53() -> str:
    from .dedup_index import sql_dedup_index_batch

    return sql_dedup_index_batch(
        "(SELECT * FROM documents"
        " WHERE doc_id % 5 != 0 AND doc_id % 3 != 0)",
        "(SELECT * FROM documents WHERE doc_id % 5 = 0)",
        "text", "doc_id", "doc_id, lang, n_chars",
    )


ORACLE_QA53 = _oracle_qa53()


def qa54_phash_takedown_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED takedown loop the tombstone layer exists for, on
    the media index: ``corpus_diff`` between the indexed snapshot and
    its takedown edition computes the removed ids, ``delete_batch``
    feeds them straight in (the diff relation IS the delete request —
    extra columns ignored), and the next ``dedup_batch`` must behave
    as if the index had been built on the takedown edition: batch
    items whose only perceptual near-duplicates were removed
    re-surface, everything else still drops, and no image is ever
    re-decoded. The oracle recomputes the whole fake-codec banded
    pipeline against the post-takedown corpus."""
    from .dedup_index import phash_index_load

    ctx = _ctx(spark)
    docs = _t(ctx, sf_dir, "documents").map("doc_id", "text")

    def decoded(stream):
        return (
            stream.map(
                doc_id=F.col("doc_id"),
                content=F.encode(
                    F.coalesce(F.col("text"), F.lit("")), "UTF-8"
                ),
            )
            .shuffle()
            .decode_image(n_features=48, columns=["doc_id"])
        )

    v1 = docs.filter("doc_id % 5 > 1")          # the indexed snapshot
    v2 = v1.filter("doc_id % 4 != 2")           # the takedown edition
    batch = decoded(docs.filter("doc_id % 5 = 0"))
    path = _tmp_index_path("renoir_phash_takedown_", sf_dir)
    decoded(v1).phash_index_build(path, id_col="doc_id", bits=48,
                                  bucket_dirs=16)
    idx = phash_index_load(spark, path)
    removed = v2.corpus_diff(v1, "doc_id", ["text"]).filter(
        "status = 'removed'"
    )
    idx.delete_batch(removed)
    return (
        idx.dedup_batch(batch)
        .df.select("doc_id", "image_width", "image_height")
    )


def _oracle_qa54() -> str:
    from .dedup_index import sql_phash_index_batch

    corpus = ("(SELECT doc_id, text FROM documents"
              " WHERE doc_id % 5 > 1 AND doc_id % 4 != 2)")
    batch = "(SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0)"
    return sql_phash_index_batch(
        corpus, batch, _QA47_FS, "doc_id",
        "t.doc_id, "
        "16 + ('0x' || substr(md5(coalesce(t.text, '')), 1, 2))::INT % 64"
        " AS image_width, "
        "16 + ('0x' || substr(md5(coalesce(t.text, '')), 3, 2))::INT % 64"
        " AS image_height",
        bits=48,
    )


ORACLE_QA54 = _oracle_qa54()


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_group_by_sum": q02_group_by_sum,
    "q03_shipping_priority": q03_shipping_priority,
    "q04_left_join_counts": q04_left_join_counts,
    "q05_broadcast_chain": q05_broadcast_chain,
    "q06_revenue_filter": q06_revenue_filter,
    "q07_distinct": q07_distinct,
    "q08_argmax_per_nation": q08_argmax_per_nation,
    "q09_wordcount": q09_wordcount,
    "q10_line_share": q10_line_share,
    "q11_interval_join": q11_interval_join,
    "q12_zip": q12_zip,
    "q13_sessions": q13_sessions,
    "q14_count_window": q14_count_window,
    "q15_last_k": q15_last_k,
    "q16_event_time_tumbling": q16_event_time_tumbling,
    "q17_event_time_sliding": q17_event_time_sliding,
    "q18_limit_offset": q18_limit_offset,
    "q19_route": q19_route,
    "q20_merge": q20_merge,
    "q21_sort_merge_join": q21_sort_merge_join,
    "q22_outer_join": q22_outer_join,
    "q23_window_join": q23_window_join,
    "q24_global_fold_scan": q24_global_fold_scan,
    "q25_connected_components": q25_connected_components,
    "q26_pagerank": q26_pagerank,
    "q27_dedup_exact": q27_dedup_exact,
    "q28_dedup_minhash": q28_dedup_minhash,
    "q29_text_stats": q29_text_stats,
    "q30_lang_id": q30_lang_id,
    "q31_ann_brute": q31_ann_brute,
    "q32_ann_lsh": q32_ann_lsh,
    "q33_dedup_simhash": q33_dedup_simhash,
    "q34_ngram_jaccard": q34_ngram_jaccard,
    "q35_dedup_embedding": q35_dedup_embedding,
    "q36_transaction_window": q36_transaction_window,
    "q37_all_window": q37_all_window,
    "q38_window_first_last": q38_window_first_last,
    "q39_window_to_vec": q39_window_to_vec,
    "q40_window_map_pandas": q40_window_map_pandas,
    "q41_map_memo": q41_map_memo,
    "q42_keyed_rich_map": q42_keyed_rich_map,
    "q43_replication": q43_replication,
    "q44_repartition_by": q44_repartition_by,
    "q45_reorder": q45_reorder,
    "q46_processing_time_window": q46_processing_time_window,
    "q47_token_count": q47_token_count,
    "q48_fingerprint_winnow": q48_fingerprint_winnow,
    "q49_kmeans": q49_kmeans,
    "q50_ann_ivf": q50_ann_ivf,
    "q51_multimodal_decode": q51_multimodal_decode,
    "q52_salted_join": q52_salted_join,
    "q53_transitive_closure": q53_transitive_closure,
    "q54_kmv_distinct": q54_kmv_distinct,
    "q55_rolling_top_words": q55_rolling_top_words,
    "q56_triangles": q56_triangles,
    "q57_logistic_regression": q57_logistic_regression,
    "q58_json_props": q58_json_props,
    "q59_promo_revenue": q59_promo_revenue,
    "q60_nexmark_currency": q60_nexmark_currency,
    "q61_nexmark_hot_items": q61_nexmark_hot_items,
    "q62_nexmark_highest_bid": q62_nexmark_highest_bid,
    "q63_nexmark_new_users": q63_nexmark_new_users,
    "q64_ann_lsh_multi": q64_ann_lsh_multi,
    "q65_nexmark_winning_bids": q65_nexmark_winning_bids,
    "q66_nexmark_avg_category": q66_nexmark_avg_category,
    "q67_nexmark_avg_seller": q67_nexmark_avg_seller,
    "q68_nexmark_item_suggestion": q68_nexmark_item_suggestion,
    "q69_dedup_against": q69_dedup_against,
    "q70_pii_redact": q70_pii_redact,
    "q71_quality_gopher": q71_quality_gopher,
    "q72_repetition_stats": q72_repetition_stats,
    "q73_sample_fraction": q73_sample_fraction,
    "q74_sample_stratified": q74_sample_stratified,
    "q75_rebalance_mix": q75_rebalance_mix,
    "q76_pack_sequences": q76_pack_sequences,
    "q77_tfidf_top_terms": q77_tfidf_top_terms,
    "q78_bm25": q78_bm25,
    "q79_contaminated_ngrams": q79_contaminated_ngrams,
    "q80_prep_pipeline": q80_prep_pipeline,
    "q81_train_val_test_split": q81_train_val_test_split,
    "q82_collatz": q82_collatz,
    "q83_dedup_cluster": q83_dedup_cluster,
    "q84_duplicate_spans": q84_duplicate_spans,
    "q85_chunk_dedup": q85_chunk_dedup,
    "q86_asof_join": q86_asof_join,
    "q87_group_quantiles": q87_group_quantiles,
    "q88_dedup_embedding_ivf": q88_dedup_embedding_ivf,
    "q89_sssp": q89_sssp,
    "q90_count_distinct": q90_count_distinct,
    "q91_rollup": q91_rollup,
    "q92_sample_weighted": q92_sample_weighted,
    "q93_word_entropy": q93_word_entropy,
    "q94_longest_dup_span": q94_longest_dup_span,
    "q95_running_sum": q95_running_sum,
    "q96_dedup_against_bloom": q96_dedup_against_bloom,
    "q97_heavy_hitters": q97_heavy_hitters,
    "q98_unigram_logprob": q98_unigram_logprob,
    "q99_ann_sq8": q99_ann_sq8,
    "qa01_ann_ivf_sq8": qa01_ann_ivf_sq8,
    "qa02_sample_weighted_k": qa02_sample_weighted_k,
    "qa03_sample_weighted_k_stratified": qa03_sample_weighted_k_stratified,
    "qa04_decontaminate_embedding": qa04_decontaminate_embedding,
    "qa05_upsample_epochs": qa05_upsample_epochs,
    "qa06_ann_index_roundtrip": qa06_ann_index_roundtrip,
    "qa07_dedup_index_batch": qa07_dedup_index_batch,
    "qa08_dedup_index_incremental": qa08_dedup_index_incremental,
    "qa09_dsir_select": qa09_dsir_select,
    "qa10_nb_classifier": qa10_nb_classifier,
    "qa11_dedup_index_exact": qa11_dedup_index_exact,
    "qa12_ann_index_append": qa12_ann_index_append,
    "qa13_boilerplate_strip": qa13_boilerplate_strip,
    "qa14_domain_cap": qa14_domain_cap,
    "qa15_token_shards": qa15_token_shards,
    "qa16_url_dedup": qa16_url_dedup,
    "qa17_ssjoin_exact": qa17_ssjoin_exact,
    "qa18_url_blocklist": qa18_url_blocklist,
    "qa19_token_budget": qa19_token_budget,
    "qa20_quantile_band": qa20_quantile_band,
    "qa21_dedup_cluster_exact": qa21_dedup_cluster_exact,
    "qa22_split_sentences": qa22_split_sentences,
    "qa23_sentence_dedup": qa23_sentence_dedup,
    "qa24_temperature_mix": qa24_temperature_mix,
    "qa25_long_doc_windows": qa25_long_doc_windows,
    "qa26_containment_pairs": qa26_containment_pairs,
    "qa27_diversity_sample": qa27_diversity_sample,
    "qa28_ann_index_dedup": qa28_ann_index_dedup,
    "qa29_fim_transform": qa29_fim_transform,
    "qa30_chunk_dedup_cdc": qa30_chunk_dedup_cdc,
    "qa31_semantic_curation": qa31_semantic_curation,
    "qa32_semantic_ingest": qa32_semantic_ingest,
    "qa33_epoch_shuffle": qa33_epoch_shuffle,
    "qa34_training_order": qa34_training_order,
    "qa35_diversity_autodial": qa35_diversity_autodial,
    "qa36_corpus_diff": qa36_corpus_diff,
    "qa37_corpus_overlap": qa37_corpus_overlap,
    "qa38_leakage_safe_split": qa38_leakage_safe_split,
    "qa39_hybrid_search": qa39_hybrid_search,
    "qa40_incremental_rebuild": qa40_incremental_rebuild,
    "qa41_bigram_logprob": qa41_bigram_logprob,
    "qa42_corpus_report": qa42_corpus_report,
    "qa43_corpus_overlap_kmv": qa43_corpus_overlap_kmv,
    "qa44_dedup_phash": qa44_dedup_phash,
    "qa45_bigram_bucketed": qa45_bigram_bucketed,
    "qa46_phash_decontaminate": qa46_phash_decontaminate,
    "qa47_phash_index_incremental": qa47_phash_index_incremental,
    "qa48_video_phash_dedup": qa48_video_phash_dedup,
    "qa49_contrastive_pairs": qa49_contrastive_pairs,
    "qa50_contrastive_cross_cell": qa50_contrastive_cross_cell,
    "qa51_align_filter": qa51_align_filter,
    "qa52_ann_index_delete": qa52_ann_index_delete,
    "qa53_dedup_index_delete": qa53_dedup_index_delete,
    "qa54_phash_takedown_sync": qa54_phash_takedown_sync,
}

ORACLE: Dict[str, str] = {
    "q01_pricing_summary": ORACLE_Q01,
    "q02_group_by_sum": ORACLE_Q02,
    "q03_shipping_priority": ORACLE_Q03,
    "q04_left_join_counts": ORACLE_Q04,
    "q05_broadcast_chain": ORACLE_Q05,
    "q06_revenue_filter": ORACLE_Q06,
    "q07_distinct": ORACLE_Q07,
    "q08_argmax_per_nation": ORACLE_Q08,
    "q09_wordcount": ORACLE_Q09,
    "q10_line_share": ORACLE_Q10,
    "q11_interval_join": ORACLE_Q11,
    "q12_zip": ORACLE_Q12,
    "q13_sessions": ORACLE_Q13,
    "q14_count_window": ORACLE_Q14,
    "q15_last_k": ORACLE_Q15,
    "q16_event_time_tumbling": ORACLE_Q16,
    "q17_event_time_sliding": ORACLE_Q17,
    "q18_limit_offset": ORACLE_Q18,
    "q19_route": ORACLE_Q19,
    "q20_merge": ORACLE_Q20,
    "q21_sort_merge_join": ORACLE_Q21,
    "q22_outer_join": ORACLE_Q22,
    "q23_window_join": ORACLE_Q23,
    "q24_global_fold_scan": ORACLE_Q24,
    "q25_connected_components": ORACLE_Q25,
    "q26_pagerank": ORACLE_Q26,
    "q27_dedup_exact": ORACLE_Q27,
    "q28_dedup_minhash": ORACLE_Q28,
    "q29_text_stats": ORACLE_Q29,
    "q30_lang_id": ORACLE_Q30,
    "q31_ann_brute": ORACLE_Q31,
    "q32_ann_lsh": ORACLE_Q32,
    "q33_dedup_simhash": ORACLE_Q33,
    "q34_ngram_jaccard": ORACLE_Q34,
    "q35_dedup_embedding": ORACLE_Q35,
    "q36_transaction_window": ORACLE_Q36,
    "q37_all_window": ORACLE_Q37,
    "q38_window_first_last": ORACLE_Q38,
    "q39_window_to_vec": ORACLE_Q39,
    "q40_window_map_pandas": ORACLE_Q40,
    "q41_map_memo": ORACLE_Q41,
    "q42_keyed_rich_map": ORACLE_Q42,
    "q43_replication": ORACLE_Q43,
    "q44_repartition_by": ORACLE_Q44,
    "q45_reorder": ORACLE_Q45,
    "q46_processing_time_window": ORACLE_Q46,
    "q47_token_count": ORACLE_Q47,
    "q48_fingerprint_winnow": ORACLE_Q48,
    "q49_kmeans": ORACLE_Q49,
    "q50_ann_ivf": ORACLE_Q50,
    "q51_multimodal_decode": ORACLE_Q51,
    "q52_salted_join": ORACLE_Q52,
    "q53_transitive_closure": ORACLE_Q53,
    "q54_kmv_distinct": ORACLE_Q54,
    "q55_rolling_top_words": ORACLE_Q55,
    "q56_triangles": ORACLE_Q56,
    "q57_logistic_regression": ORACLE_Q57,
    "q58_json_props": ORACLE_Q58,
    "q59_promo_revenue": ORACLE_Q59,
    "q60_nexmark_currency": ORACLE_Q60,
    "q61_nexmark_hot_items": ORACLE_Q61,
    "q62_nexmark_highest_bid": ORACLE_Q62,
    "q63_nexmark_new_users": ORACLE_Q63,
    "q64_ann_lsh_multi": sql_ann_cosine_lsh(
        "embeddings", "vec_id < 8", k=3, n_planes=6, n_tables=8
    ),
    "q65_nexmark_winning_bids": ORACLE_Q65,
    "q66_nexmark_avg_category": ORACLE_Q66,
    "q67_nexmark_avg_seller": ORACLE_Q67,
    "q68_nexmark_item_suggestion": ORACLE_Q68,
    "q69_dedup_against": ORACLE_Q69,
    "q70_pii_redact": ORACLE_Q70,
    "q71_quality_gopher": ORACLE_Q71,
    "q72_repetition_stats": ORACLE_Q72,
    "q73_sample_fraction": ORACLE_Q73,
    "q74_sample_stratified": ORACLE_Q74,
    "q75_rebalance_mix": ORACLE_Q75,
    "q76_pack_sequences": ORACLE_Q76,
    "q77_tfidf_top_terms": ORACLE_Q77,
    "q78_bm25": ORACLE_Q78,
    "q79_contaminated_ngrams": ORACLE_Q79,
    "q80_prep_pipeline": ORACLE_Q80,
    "q81_train_val_test_split": ORACLE_Q81,
    "q82_collatz": ORACLE_Q82,
    "q83_dedup_cluster": ORACLE_Q83,
    "q84_duplicate_spans": ORACLE_Q84,
    "q85_chunk_dedup": ORACLE_Q85,
    "q86_asof_join": ORACLE_Q86,
    "q87_group_quantiles": ORACLE_Q87,
    "q88_dedup_embedding_ivf": ORACLE_Q88,
    "q89_sssp": ORACLE_Q89,
    "q90_count_distinct": ORACLE_Q90,
    "q91_rollup": ORACLE_Q91,
    "q92_sample_weighted": ORACLE_Q92,
    "q93_word_entropy": ORACLE_Q93,
    "q94_longest_dup_span": ORACLE_Q94,
    "q95_running_sum": ORACLE_Q95,
    "q96_dedup_against_bloom": ORACLE_Q96,
    "q97_heavy_hitters": ORACLE_Q97,
    "q98_unigram_logprob": ORACLE_Q98,
    "q99_ann_sq8": ORACLE_Q99,
    "qa01_ann_ivf_sq8": ORACLE_QA01,
    "qa02_sample_weighted_k": ORACLE_QA02,
    "qa03_sample_weighted_k_stratified": ORACLE_QA03,
    "qa04_decontaminate_embedding": ORACLE_QA04,
    "qa05_upsample_epochs": ORACLE_QA05,
    "qa06_ann_index_roundtrip": ORACLE_QA06,
    "qa07_dedup_index_batch": ORACLE_QA07,
    "qa08_dedup_index_incremental": ORACLE_QA08,
    "qa09_dsir_select": ORACLE_QA09,
    "qa10_nb_classifier": ORACLE_QA10,
    "qa11_dedup_index_exact": ORACLE_QA11,
    "qa12_ann_index_append": ORACLE_QA12,
    "qa13_boilerplate_strip": ORACLE_QA13,
    "qa14_domain_cap": ORACLE_QA14,
    "qa15_token_shards": ORACLE_QA15,
    "qa16_url_dedup": ORACLE_QA16,
    "qa17_ssjoin_exact": ORACLE_QA17,
    "qa18_url_blocklist": ORACLE_QA18,
    "qa19_token_budget": ORACLE_QA19,
    "qa20_quantile_band": ORACLE_QA20,
    "qa21_dedup_cluster_exact": ORACLE_QA21,
    "qa22_split_sentences": ORACLE_QA22,
    "qa23_sentence_dedup": ORACLE_QA23,
    "qa24_temperature_mix": ORACLE_QA24,
    "qa25_long_doc_windows": ORACLE_QA25,
    "qa26_containment_pairs": ORACLE_QA26,
    "qa27_diversity_sample": ORACLE_QA27,
    "qa28_ann_index_dedup": ORACLE_QA28,
    "qa29_fim_transform": ORACLE_QA29,
    "qa30_chunk_dedup_cdc": ORACLE_QA30,
    "qa31_semantic_curation": ORACLE_QA31,
    "qa32_semantic_ingest": ORACLE_QA32,
    "qa33_epoch_shuffle": ORACLE_QA33,
    "qa34_training_order": ORACLE_QA34,
    "qa35_diversity_autodial": ORACLE_QA35,
    "qa36_corpus_diff": ORACLE_QA36,
    "qa37_corpus_overlap": ORACLE_QA37,
    "qa38_leakage_safe_split": ORACLE_QA38,
    "qa39_hybrid_search": ORACLE_QA39,
    "qa40_incremental_rebuild": ORACLE_QA40,
    "qa41_bigram_logprob": ORACLE_QA41,
    "qa42_corpus_report": ORACLE_QA42,
    "qa43_corpus_overlap_kmv": ORACLE_QA43,
    "qa44_dedup_phash": ORACLE_QA44,
    "qa45_bigram_bucketed": ORACLE_QA45,
    "qa46_phash_decontaminate": ORACLE_QA46,
    "qa47_phash_index_incremental": ORACLE_QA47,
    "qa48_video_phash_dedup": ORACLE_QA48,
    "qa49_contrastive_pairs": ORACLE_QA49,
    "qa50_contrastive_cross_cell": ORACLE_QA50,
    "qa51_align_filter": ORACLE_QA51,
    "qa52_ann_index_delete": ORACLE_QA52,
    "qa53_dedup_index_delete": ORACLE_QA53,
    "qa54_phash_takedown_sync": ORACLE_QA54,
}
