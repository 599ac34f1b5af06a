"""Seeded workload generators. Pure Python: no Spark, no I/O.

The program under test sees only what these produce: question text,
LLM completions and typed SQL for the ask session, and the key cuts that
split the ingest source into batches.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Question:
    """One client request of the ask session.

    ``kind`` is ``nl`` (question text answered through the NL pipeline
    with ``completion`` as the canned LLM output) or ``sql`` (``text``
    is typed SQL run through the execute-and-repair path). ``oracle``
    is the DuckDB SQL of the intended answer. ``known_bad`` marks a
    template the program is known to answer wrongly (join identifiers
    repaired against the target table's columns only); such questions
    stay in the mix and are counted, not skipped.
    """

    template: str
    kind: str
    table: str
    text: str
    completion: str
    oracle: str
    known_bad: bool = False


_STATUSES = ("online", "offline", "test", "brokeroff")
# "US" is left out: the dictionary maps the literal 'us' to a country
# everywhere in a statement (reference behaviour), which would rewrite
# a cloud filter.
_CLOUDS = ("CA", "CERN", "DE", "ES", "FR", "IT", "ND", "NL", "RU", "UK", "WORLD")
_US_WORDS = ("american", "usa", "america")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_YEARS = (1995, 1996, 1997, 1998, 1999, 2000)


def _t_online(r):
    s = r.choice(_STATUSES)
    return Question(
        "nl_status_list", "nl", "queuedata",
        f"list all queues that are {s}",
        # fenced, alias ``name``, wrong-case literal
        f"```sql\nSELECT name FROM queuedata WHERE LOWER(status) = '{s.upper()}'\n```",
        f"SELECT queue FROM queuedata WHERE lower(status) = '{s}'",
    )


def _t_cloud_cores(r):
    c, n = r.choice(_CLOUDS), r.randrange(1, 200)
    return Question(
        "nl_cloud_cores", "nl", "queuedata",
        f"how many queues in region {c} have at least {n} cores",
        f"SELECT COUNT(*) AS n_queues FROM queuedata WHERE region = '{c}' AND ncores >= {n}",
        f"SELECT count(*) AS n_queues FROM queuedata WHERE cloud = '{c}' AND corecount >= {n}",
    )


def _t_country(r):
    w = r.choice(_US_WORDS)
    return Question(
        "nl_country", "nl", "queuedata",
        f"list all {w} queues",
        f"SELECT queue, country FROM queuedata WHERE country = '{w}'",
        "SELECT queue, country FROM queuedata WHERE country = 'United States'",
    )


def _t_power(r):
    s = r.choice(_STATUSES)
    return Question(
        "nl_avg_power", "nl", "queuedata",
        f"average core power of queues that are {s}",
        # typo'd column, wrong-case literal
        f"SELECT AVG(corepowr) AS avg_power FROM queuedata WHERE status = '{s.upper()}'",
        f"SELECT avg(corepower) AS avg_power FROM queuedata WHERE status = '{s}'",
    )


def _t_copytool(r):
    s, tool = r.choice(_STATUSES), r.choice(("rucio", "xrdcp"))
    return Question(
        "nl_copytool", "nl", "queuedata",
        f"how many queues that are {s} do not use the {tool} copytool",
        f"SELECT COUNT(*) AS n FROM queuedata WHERE LOWER(status) = '{s}'"
        f" AND get_json_object(copytools, '$.{tool}') IS NULL",
        f"SELECT count(*) AS n FROM queuedata WHERE lower(status) = '{s}'"
        f" AND json_extract(copytools, '$.{tool}') IS NULL",
    )


def _t_revenue(r):
    flag, year = r.choice("ANR"), r.choice(_YEARS)
    return Question(
        "nl_revenue", "nl", "lineitem",
        f"total revenue for return flag {flag} shipped in {year}",
        "```\nSELECT SUM(l_extendedprce * (1 - l_discount)) AS revenue FROM lineitem"
        f" WHERE l_returnflag = '{flag}' AND year(l_shipdate) = {year}\n```",
        "SELECT sum(l_extendedprice * (1 - l_discount)) AS revenue FROM lineitem"
        f" WHERE l_returnflag = '{flag}' AND year(l_shipdate) = {year}",
    )


def _t_priority(r):
    st = r.choice("FOP")
    return Question(
        "nl_priority", "nl", "orders",
        f"number of orders per priority with status {st}",
        "SELECT o_orderpriority, COUNT(*) AS n FROM orders"
        f" WHERE o_orderstatus = '{st}' GROUP BY o_orderpriorty ORDER BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n FROM orders"
        f" WHERE o_orderstatus = '{st}' GROUP BY o_orderpriority",
    )


def _t_top_customers(r):
    seg = r.choice(_SEGMENTS)
    sql = (
        f"SELECT c_name, c_acctbal FROM customer WHERE c_mktsegment = '{seg}'"
        " ORDER BY c_acctbal DESC, c_name LIMIT 10"
    )
    return Question(
        "nl_top_customers", "nl", "customer",
        f"top 10 customers by account balance in segment {seg}", sql, sql,
    )


def _t_join_nation(r):
    seg = r.choice(_SEGMENTS)
    sql = (
        "SELECT n.n_name, SUM(o.o_totalprice) AS total FROM orders o"
        " JOIN customer c ON o.o_custkey = c.c_custkey"
        " JOIN nation n ON c.c_nationkey = n.n_nationkey"
        f" WHERE c.c_mktsegment = '{seg}' GROUP BY n.n_name"
    )
    return Question(
        "nl_join_nation", "nl", "orders",
        f"total order value per nation for customers in segment {seg}",
        sql, sql, known_bad=True,
    )


def _t_join_priority(r):
    year = r.choice(_YEARS)
    sql = (
        "SELECT o.o_orderpriority, SUM(l.l_extendedprice) AS revenue FROM lineitem l"
        " JOIN orders o ON l.l_orderkey = o.o_orderkey"
        f" WHERE year(o.o_orderdate) = {year} GROUP BY o.o_orderpriority"
    )
    return Question(
        "nl_join_priority", "nl", "lineitem",
        f"line revenue per order priority for orders placed in {year}",
        sql, sql, known_bad=True,
    )


def _s_props(r):
    et = r.choice(_EVENT_TYPES)
    sql = (
        "SELECT props->>'k' AS k, COUNT(*) AS n FROM events"
        f" WHERE event_type = '{et}' GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 10"
    )
    return Question("sql_duckdb_props", "sql", "events", sql, "", sql)


def _s_buckets(r):
    price = r.randrange(100_000, 400_000)
    sql = (
        "SELECT o_orderkey // 1000 AS bucket, COUNT(*) AS n FROM orders"
        f" WHERE o_totalprice > {price} GROUP BY 1 ORDER BY 1"
    )
    return Question("sql_duckdb_buckets", "sql", "orders", sql, "", sql)


def _s_segments(r):
    nk = r.randrange(0, 25)
    sql = (
        "SELECT c_mktsegment, COUNT(*) AS n, AVG(c_acctbal) AS avg_bal FROM customer"
        f" WHERE c_nationkey = {nk} GROUP BY c_mktsegment ORDER BY c_mktsegment"
    )
    return Question("sql_segments", "sql", "customer", sql, "", sql)


def _s_event_totals(r):
    u = r.randrange(20, 150)
    return Question(
        "sql_typo_events", "sql", "events",
        "SELECT event_type, COUNT(*) AS n, SUM(valu) AS total FROM events"
        f" WHERE user_id < {u} GROUP BY event_type ORDER BY event_type",
        "",
        "SELECT event_type, count(*) AS n, sum(value) AS total FROM events"
        f" WHERE user_id < {u} GROUP BY event_type",
    )


def _s_clouds(r):
    n = r.randrange(1, 200)
    sql = (
        f"SELECT cloud, COUNT(*) AS n, SUM(CASE WHEN corecount > {n} THEN 1 ELSE 0 END)"
        " AS n_big FROM queuedata GROUP BY cloud ORDER BY cloud"
    )
    return Question("sql_clouds", "sql", "queuedata", sql, "", sql)


#: Ten NL templates and five typed-SQL ones: two thirds of a block is NL.
TEMPLATES = (
    _t_revenue, _t_online, _t_cloud_cores, _t_country, _t_power, _t_copytool,
    _t_priority, _t_top_customers, _t_join_nation, _t_join_priority,
    _s_props, _s_buckets, _s_segments, _s_event_totals, _s_clouds,
)


#: Templates of which each block after the first repeats one earlier
#: question verbatim: one NL and one typed SQL, so the repeats keep the
#: two-thirds NL share, and each returns the same number of rows on
#: every seed.
REPEATS = ("nl_status_list", "sql_segments")


def ask_blocks(seed: int, n_blocks: int) -> list[list[Question]]:
    """The question stream, as blocks of one question per template.

    Each block holds every template once with fresh seeded literals, in
    seeded order; from the second block on, one earlier question of each
    template in ``REPEATS`` is asked again, verbatim. The stream always opens
    with the revenue template. Each template's result has the same number
    of rows whatever its literals, so the rows a block returns do not
    depend on the seed.
    """
    r = random.Random(seed)
    blocks: list[list[Question]] = []
    asked: list[Question] = []
    for b in range(n_blocks):
        block = [t(r) for t in TEMPLATES]
        if b == 0:
            rest = block[1:]
            r.shuffle(rest)
            block = block[:1] + rest
        else:
            r.shuffle(block)
            for template in REPEATS:
                again = [q for q in asked if q.template == template]
                block.insert(r.randrange(len(block) + 1), r.choice(again))
        asked.extend(block)
        blocks.append(block)
    return blocks


def ingest_cuts(seed: int, lo: int, hi: int, k: int) -> list[int]:
    """k - 1 seeded interior cut points splitting [lo, hi] into k batches.

    Each cut moves at most a tenth of an even share from its even
    position, so per-batch work stays comparable across seeds.
    """
    r = random.Random(seed)
    share = (hi - lo) / k
    return [int(lo + share * (i + r.uniform(-0.1, 0.1))) for i in range(1, k)]
