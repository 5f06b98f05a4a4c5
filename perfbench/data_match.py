#!/usr/bin/env python3
"""Compares the benchmark's generated tables with a reference table set.

    python3 perfbench/data_match.py <reference_sf_dir> <sf>

Run from the root of a checkout. It generates the tables `run.py` uses at
scale factor `sf` (cached under `.bench_build/data/`) and prints, for both
table sets side by side, the statistics that set the rollups' work: row
counts, key ranges and distinct keys, join coverage and fan-out (orders
per customer, lines per order and per part), the group and pair
cardinalities the pre-aggregations and distinct counts see, and value
domains. It exits 1 if a row count, key range, distinct count or join
coverage differs by more than 2%.
"""
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "part", "orders", "lineitem"]
LOC = ("lineitem l JOIN orders o ON l_orderkey = o_orderkey "
       "JOIN customer c ON o_custkey = c_custkey")
# (statistic, query, gated): a gated statistic must match within 2%
STATS = [
    ("rows customer/part/orders/lineitem",
     "SELECT (SELECT count(*) FROM customer), (SELECT count(*) FROM part), "
     "(SELECT count(*) FROM orders), (SELECT count(*) FROM lineitem)", True),
    ("c_custkey min/max", "SELECT min(c_custkey), max(c_custkey) FROM customer", True),
    ("p_partkey min/max", "SELECT min(p_partkey), max(p_partkey) FROM part", True),
    ("o_orderkey min/max/distinct",
     "SELECT min(o_orderkey), max(o_orderkey), count(DISTINCT o_orderkey) FROM orders", True),
    ("distinct o_custkey / joining customer",
     "SELECT count(DISTINCT o_custkey), count(DISTINCT c_custkey) "
     "FROM orders JOIN customer ON o_custkey = c_custkey", True),
    ("distinct l_orderkey / lines joining orders",
     "SELECT count(DISTINCT l_orderkey), count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey", True),
    ("distinct l_partkey / lines joining part",
     "SELECT count(DISTINCT l_partkey), count(*) FROM lineitem JOIN part ON l_partkey = p_partkey", True),
    ("distinct nations / segments in customer",
     "SELECT count(DISTINCT c_nationkey), count(DISTINCT c_mktsegment) FROM customer", True),
    ("distinct brands / types / sizes / names",
     "SELECT count(DISTINCT p_brand), count(DISTINCT p_type), count(DISTINCT p_size), "
     "count(DISTINCT p_name) FROM part", True),
    ("distinct (nation, customer) pairs", f"SELECT count(DISTINCT (c_nationkey, c_custkey)) FROM {LOC}", True),
    ("distinct (part, customer) pairs", f"SELECT count(DISTINCT (l_partkey, c_custkey)) FROM {LOC}", True),
    ("orders per customer min/median/max",
     "SELECT min(n), median(n), max(n) FROM (SELECT count(*) n FROM orders GROUP BY o_custkey)", False),
    ("lines per order min/median/max",
     "SELECT min(n), median(n), max(n) FROM (SELECT count(*) n FROM lineitem GROUP BY l_orderkey)", False),
    ("lines per part min/median/max",
     "SELECT min(n), median(n), max(n) FROM (SELECT count(*) n FROM lineitem GROUP BY l_partkey)", False),
    ("lines per nation min/median/max",
     f"SELECT min(n), median(n), max(n) FROM (SELECT count(*) n FROM {LOC} GROUP BY c_nationkey)", False),
    ("l_quantity min/max, l_extendedprice mean",
     "SELECT min(l_quantity), max(l_quantity), round(avg(l_extendedprice)) FROM lineitem", False),
    ("l_discount min/max, p_retailprice min/max",
     "SELECT (SELECT min(l_discount) FROM lineitem), (SELECT max(l_discount) FROM lineitem), "
     "(SELECT min(p_retailprice) FROM part), (SELECT max(p_retailprice) FROM part)", False),
    ("l_shipdate min/max", "SELECT min(l_shipdate)::DATE, max(l_shipdate)::DATE FROM lineitem", False),
    ("o_orderdate min/max", "SELECT min(o_orderdate)::DATE, max(o_orderdate)::DATE FROM orders", False),
]


def stats(d):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(d, t)}.parquet')")
    return [con.execute(q).fetchone() for _, q, _ in STATS]


def close(a, b):
    return all(x == y or (isinstance(x, (int, float)) and isinstance(y, (int, float))
                          and abs(x - y) <= 0.02 * max(abs(x), abs(y)))
               for x, y in zip(a, b))


def main():
    ref, sf = sys.argv[1], sys.argv[2]
    gen = run.data_dir(sf)
    bad = 0
    print(f"| statistic | reference | generated (sf{sf}, seed {run.DATA_SEED}) |")
    print("|---|---|---|")
    for (name, _, gated), a, b in zip(STATS, stats(ref), stats(gen)):
        mark = "" if not gated or close(a, b) else " **differs**"
        bad += bool(mark)
        fmt = lambda r: ", ".join(str(x) for x in r)  # noqa: E731
        print(f"| {name} | {fmt(a)} | {fmt(b)}{mark} |")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
