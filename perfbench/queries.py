"""The PRQL query pool, each query with a hand-written DuckDB twin.

A template's literals (dates, thresholds, ``take n``) are drawn from the
run's seed.  The twins are written by hand against the same tables and are
never derived from the program's compiler, so a compiler or engine bug
shows up as a mismatch.

``tol`` maps output columns that are rounded to a fixed number of decimals
to the size of one rounding unit: Spark and DuckDB may round a value that
lies on a half boundary (after a sum in a different order) to neighbouring
units, which is not a bug.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from dataclasses import dataclass, field

BASE_DAY = dt.date(1995, 1, 1)


@dataclass(frozen=True)
class Query:
    name: str
    tables: tuple[str, ...]
    prql: str
    duck: str
    params: Callable  # numpy Generator -> {literal name: value}
    tol: dict = field(default_factory=dict)


def _day(rng, lo: int, hi: int) -> str:
    return (BASE_DAY + dt.timedelta(days=int(rng.integers(lo, hi)))).isoformat()


def _add(day: str, days: int) -> str:
    return (dt.date.fromisoformat(day) + dt.timedelta(days=days)).isoformat()


def _q6(rng):
    start = f"{int(rng.integers(1995, 2001))}-01-01"
    d = int(rng.integers(2, 9))
    return {"start": start, "end": _add(start, 365), "dlo": (d - 1) / 100,
            "dhi": (d + 1) / 100, "qty": int(rng.integers(20, 30))}


def _q10(rng):
    start = f"{int(rng.integers(1995, 2001))}-{int(rng.choice([1, 4, 7, 10])):02d}-01"
    return {"start": start, "end": _add(start, 90), "k": int(rng.integers(10, 30))}


POOL: tuple[Query, ...] = (
    # the six BASELINE/FIXTURES headline shapes (q_take is the sorted take:
    # an unsorted LIMIT has no single right answer to compare with)
    Query(
        "q_take_sorted", ("lineitem",),
        """
from lineitem
filter l_orderkey >= {lo}
sort [l_orderkey, l_linenumber]
take {k}
""",
        """
SELECT * FROM lineitem WHERE l_orderkey >= {lo}
ORDER BY l_orderkey, l_linenumber LIMIT {k}
""",
        lambda rng: {"lo": int(rng.integers(0, 1000)), "k": int(rng.integers(5, 50))},
    ),
    Query(
        "q_agg_q1", ("lineitem",),
        """
from lineitem
filter l_shipdate <= @{day}
group [l_returnflag, l_linestatus] (
    aggregate [
        sum_qty = sum l_quantity,
        sum_base = round 2 (sum l_extendedprice),
        sum_disc_price = round 2 (sum (l_extendedprice * (1 - l_discount))),
        avg_qty = round 4 (average l_quantity),
        avg_disc = round 4 (average l_discount),
        n = count,
    ]
)
sort [l_returnflag, l_linestatus]
""",
        """
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc, count(*) AS n
FROM lineitem WHERE l_shipdate <= DATE '{day}'
GROUP BY l_returnflag, l_linestatus
""",
        lambda rng: {"day": _day(rng, 1200, 2500)},
        {"sum_base": 0.01, "sum_disc_price": 0.01, "avg_qty": 1e-4, "avg_disc": 1e-4},
    ),
    Query(
        "q_join_agg_q5", ("lineitem", "orders", "customer", "nation"),
        """
from lineitem
join orders [l_orderkey == o_orderkey]
filter o_orderdate >= @{day}
join customer [o_custkey == c_custkey]
join nation [c_nationkey == n_nationkey]
group [n_name] (
    aggregate [rev = round 2 (sum (l_extendedprice * (1 - l_discount)))]
)
sort [-rev, n_name]
""",
        """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= DATE '{day}'
GROUP BY n_name
""",
        lambda rng: {"day": _day(rng, 0, 1800)},
        {"rev": 0.01},
    ),
    Query(
        "q_window_running", ("orders",),
        """
from orders
filter o_custkey < {c}
group [o_custkey] (
    sort [o_orderdate, o_orderkey]
    window expanding:true (
        derive [run_spend = round 2 (sum o_totalprice)]
    )
)
select [o_custkey, o_orderkey, o_orderdate, run_spend]
""",
        """
SELECT o_custkey, o_orderkey, o_orderdate,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_spend
FROM orders WHERE o_custkey < {c}
""",
        lambda rng: {"c": int(rng.integers(100, 400))},
        {"run_spend": 0.01},
    ),
    Query(
        "q_topk_customers", ("orders", "customer"),
        """
from orders
filter o_totalprice > {p}
join customer [o_custkey == c_custkey]
group [c_name] (aggregate [spend = round 2 (sum o_totalprice)])
sort [-spend, c_name]
take {k}
""",
        """
SELECT c_name, round(sum(o_totalprice), 2) AS spend
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > {p}
GROUP BY c_name ORDER BY spend DESC, c_name LIMIT {k}
""",
        lambda rng: {"p": int(rng.integers(0, 300_000)), "k": int(rng.integers(5, 25))},
        {"spend": 0.01},
    ),
    Query(
        "q_filter_derive", ("lineitem",),
        """
from lineitem
filter l_shipdate >= @{day} and l_discount > {disc}
derive [dp = l_extendedprice * (1 - l_discount)]
sort [-dp, l_orderkey, l_linenumber]
take {k}
select [l_orderkey, l_linenumber, disc_price = round 2 dp]
""",
        """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 2) AS disc_price
FROM lineitem WHERE l_shipdate >= DATE '{day}' AND l_discount > {disc}
ORDER BY l_extendedprice * (1 - l_discount) DESC, l_orderkey, l_linenumber
LIMIT {k}
""",
        lambda rng: {"day": _day(rng, 0, 2000), "disc": int(rng.integers(0, 8)) / 100,
                     "k": int(rng.integers(10, 40))},
        {"disc_price": 0.01},
    ),
    # TPC-H silhouettes
    Query(
        "q_shipping_priority_q3", ("customer", "orders", "lineitem"),
        """
from customer
filter c_mktsegment == "{seg}"
join orders [c_custkey == o_custkey]
filter o_orderdate < @{day}
join lineitem [o_orderkey == l_orderkey]
filter l_shipdate > @{day}
group [l_orderkey, o_orderdate] (
    aggregate [revenue = round 2 (sum (l_extendedprice * (1 - l_discount)))]
)
sort [-revenue, l_orderkey]
take 10
""",
        """
SELECT l_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = '{seg}' AND o_orderdate < DATE '{day}'
  AND l_shipdate > DATE '{day}'
GROUP BY l_orderkey, o_orderdate
ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, l_orderkey LIMIT 10
""",
        lambda rng: {"seg": str(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                            "HOUSEHOLD", "MACHINERY"])),
                     "day": _day(rng, 300, 2200)},
        {"revenue": 0.01},
    ),
    Query(
        "q_forecast_revenue_q6", ("lineitem",),
        """
from lineitem
filter l_shipdate >= @{start}
filter l_shipdate < @{end}
filter (l_discount >= {dlo}) and (l_discount <= {dhi})
filter l_quantity < {qty}
aggregate [revenue = round 2 (sum (l_extendedprice * l_discount))]
""",
        """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem WHERE l_shipdate >= DATE '{start}' AND l_shipdate < DATE '{end}'
  AND l_discount >= {dlo} AND l_discount <= {dhi} AND l_quantity < {qty}
""",
        _q6,
        {"revenue": 0.01},
    ),
    Query(
        "q_returned_items_q10", ("lineitem", "orders", "customer", "nation"),
        """
from lineitem
filter l_returnflag == "R"
join orders [l_orderkey == o_orderkey]
filter o_orderdate >= @{start}
filter o_orderdate < @{end}
join customer [o_custkey == c_custkey]
join nation [c_nationkey == n_nationkey]
group [c_custkey, c_name, n_name] (
    aggregate [revenue = round 2 (sum (l_extendedprice * (1 - l_discount)))]
)
sort [-revenue, c_custkey]
take {k}
""",
        """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R' AND o_orderdate >= DATE '{start}'
  AND o_orderdate < DATE '{end}'
GROUP BY c_custkey, c_name, n_name
ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, c_custkey LIMIT {k}
""",
        _q10,
        {"revenue": 0.01},
    ),
    Query(
        "q_priority_lines_q12", ("lineitem", "orders"),
        """
from lineitem
join orders [l_orderkey == o_orderkey]
filter l_shipdate >= @{start}
filter l_shipdate < @{end}
group [l_linestatus] (
    aggregate [
        high_count = sum (case [o_orderpriority == '1-URGENT' -> 1, o_orderpriority == '2-HIGH' -> 1, true -> 0]),
        low_count = sum (case [o_orderpriority == '1-URGENT' -> 0, o_orderpriority == '2-HIGH' -> 0, true -> 1]),
    ]
)
sort [l_linestatus]
""",
        """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '{start}' AND l_shipdate < DATE '{end}'
GROUP BY l_linestatus
""",
        lambda rng: (lambda s: {"start": s, "end": _add(s, 365)})(
            f"{int(rng.integers(1995, 2001))}-01-01"),
    ),
    Query(
        "q_cust_distribution_q13", ("customer", "orders"),
        """
let per_cust = (
    from customer
    join side:left orders [c_custkey == o_custkey and o_orderpriority != '{prio}']
    group [c_custkey] (aggregate [c_count = s"COUNT(o_orderkey)"])
)
from per_cust
group [c_count] (aggregate [custdist = count])
sort [-custdist, -c_count]
""",
        """
SELECT c_count, count(*) AS custdist FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '{prio}'
    GROUP BY c_custkey)
GROUP BY c_count
""",
        lambda rng: {"prio": str(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                             "4-NOT SPECIFIED", "5-LOW"]))},
    ),
    Query(
        "q_small_qty_revenue_q17", ("lineitem", "part"),
        """
let part_avg = (
    from lineitem
    group [l_partkey] (aggregate [avg_qty = average l_quantity])
)
from lineitem
join part_avg [==l_partkey]
join part [l_partkey == p_partkey]
filter p_brand == 'Brand#{brand}' and l_quantity < 0.5 * avg_qty
aggregate [avg_yearly = round 2 ((sum l_extendedprice) / 7.0)]
""",
        """
WITH part_avg AS (
    SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty FROM lineitem GROUP BY 1)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part_avg ON l_partkey = pk
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#{brand}' AND l_quantity < 0.5 * avg_qty
""",
        lambda rng: {"brand": int(rng.integers(1, 26))},
        {"avg_yearly": 0.01},
    ),
    Query(
        "q_large_orders_q18", ("lineitem", "orders", "customer"),
        """
let big_orders = (
    from lineitem
    group [l_orderkey] (aggregate [total_qty = sum l_quantity])
    filter total_qty > {qty}
)
from orders
join big_orders [o_orderkey == l_orderkey]
join customer [o_custkey == c_custkey]
select [c_name, o_orderkey, o_orderdate, o_totalprice, total_qty]
sort [-o_totalprice, o_orderkey]
take {k}
""",
        """
SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > {qty}) b
  ON o_orderkey = b.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}
""",
        lambda rng: {"qty": int(rng.integers(100, 200)), "k": int(rng.integers(10, 40))},
    ),
)

BY_NAME = {q.name: q for q in POOL}


def instantiate(q: Query, rng) -> tuple[str, str]:
    """(prql, duckdb sql) with the template's literals drawn from ``rng``."""
    p = q.params(rng)
    return q.prql.format(**p).strip(), q.duck.format(**p).strip()
