"""Correctness checks for a benchmark run, made in DuckDB after the JVM exits.

`rollup_read`: each request type's reference result (written by the
harness) is compared with the type's `SparkEntry.oracleSql` run in DuckDB
over the same parquet tables, canonicalized the way `tools/check.py`
does it: columns sorted by name, rows sorted, dtype kinds equal, values
equal as strings (no float tolerance). Every request of a type is
checked in the harness against that result's fingerprint.

`dim_build`: the reference's own method, a recursive-CTE leveling and
closure over the generated node table, checks flags, levels, DFS sort
order, closure, aggregation dim, the incremental move, the closure diff
and the maintained-then-repaired rollup MV; each check validates the
step request of that name (the MV steps through the finalized rollup).
"""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from check import canon  # noqa: E402


# the rollup-MV steps are checked through the finalized rollup they feed
MV_STEPS = ["hierarchy_agg.mv_build", "hierarchy_agg.mv_merge",
            "hierarchy_agg.mv_repair", "hierarchy_agg.finalize"]


def request_types(check):
    """The request types whose results the check named `check` validates."""
    return MV_STEPS if check == "hierarchy_agg.finalize" else [check]


def compare(got, exp):
    """Exact comparison of two canonical frames; returns (ok, message)."""
    if list(got.columns) != list(exp.columns):
        return False, f"columns spark={list(got.columns)} duckdb={list(exp.columns)}"
    if len(got) != len(exp):
        return False, f"rows spark={len(got)} duckdb={len(exp)}"
    for c in got.columns:
        ka, kb = got[c].dtype.kind, exp[c].dtype.kind
        if not (ka == kb or (ka in "iu" and kb in "iu")):
            return False, f"col {c} dtype spark={got[c].dtype} duckdb={exp[c].dtype}"
        bad = got[c].astype(str) != exp[c].astype(str)
        if bad.any():
            i = bad[bad].index[0]
            return False, f"col {c} row {i}: spark={got[c].iloc[i]!r} duckdb={exp[c].iloc[i]!r}"
    return True, f"({len(got)} rows)"


def read_result(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_registry(res, results, data):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    sqls = res["oracle_sql"]
    out = {}
    for t in sorted(res["fingerprints"]):
        got = read_result(os.path.join(results, t))
        if got is None:
            out[t] = (False, "no result written")
            continue
        got = canon(got)
        if t not in sqls:
            out[t] = (False, "no oracle SQL")
            continue
        try:
            exp = canon(con.execute(sqls[t]).df())
        except Exception as e:  # noqa: BLE001 - report any oracle failure
            out[t] = (False, f"oracle SQL failed: {e}"[:300])
            continue
        out[t] = compare(got, exp)
    return out


DIM_SQL = {
    # reference method: recursive leveling + closure over the node table
    "levels": """
WITH RECURSIVE lv(node_id, level_number, path) AS (
  SELECT node_id, 1, to_json({'node_id': node_id, 'node_natural_key': node_natural_key,
                              'node_name': node_name, 'level_name': level_name})::VARCHAR
  FROM {n} WHERE parent_node_id IS NULL
  UNION ALL
  SELECT c.node_id, lv.level_number + 1,
         lv.path || '/' || to_json({'node_id': c.node_id, 'node_natural_key': c.node_natural_key,
                                    'node_name': c.node_name, 'level_name': c.level_name})::VARCHAR
  FROM {n} c JOIN lv ON c.parent_node_id = lv.node_id)
SELECT node_id, level_number, row_number() OVER (ORDER BY path) AS node_sort_order FROM lv""",
    "closure": """
WITH RECURSIVE cl(ancestor_node_id, descendant_node_id) AS (
  SELECT node_id, node_id FROM {n}
  UNION ALL
  SELECT cl.ancestor_node_id, c.node_id FROM {n} c JOIN cl ON c.parent_node_id = cl.descendant_node_id)
SELECT * FROM cl""",
}


def check_dim(results):
    con = duckdb.connect()
    con.execute("SET threads=2")
    for name, d in [("nodes", "dim.nodes"), ("moved", "dim.moved_nodes"),
                    ("facts", "dim.facts"), ("delta", "dim.delta")]:
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{results}/{d}/*.parquet')")
    for v in ("nodes", "moved"):
        con.execute(f"CREATE TABLE lv_{v} AS {DIM_SQL['levels'].replace('{n}', v)}")
        con.execute(f"CREATE TABLE cl_{v} AS {DIM_SQL['closure'].replace('{n}', v)}")
    expected = {
        "hierarchy.flags": """
SELECT n.*, n.parent_node_id IS NULL AS is_root,
       NOT EXISTS (SELECT 1 FROM nodes c WHERE c.parent_node_id = n.node_id) AS is_leaf
FROM nodes n""",
        "hierarchy.reporting": "SELECT node_id, level_number, node_sort_order FROM lv_nodes",
        "hierarchy.closure": "SELECT * FROM cl_nodes",
        "hierarchy.aggdim": """
SELECT c.ancestor_node_id, c.descendant_node_id, d.level_number - a.level_number AS net_level
FROM cl_nodes c JOIN lv_nodes a ON a.node_id = c.ancestor_node_id
JOIN lv_nodes d ON d.node_id = c.descendant_node_id""",
        "hierarchy.move": "SELECT * FROM cl_moved",
        "hierarchy.diff": """
SELECT 'removed' AS change, * FROM (SELECT * FROM cl_nodes EXCEPT SELECT * FROM cl_moved)
UNION ALL
SELECT 'added', * FROM (SELECT * FROM cl_moved EXCEPT SELECT * FROM cl_nodes)""",
        "hierarchy_agg.finalize": """
WITH f AS (SELECT * FROM facts UNION ALL SELECT * FROM delta)
SELECT lpad('-', (lv.level_number - 1) * 7, '-') || a.node_name AS product_node_name,
       lpad('-', (lv.level_number - 1) * 7, '-') || a.level_name AS product_level_name,
       ROUND(SUM(f.sales_amount), 2) AS sum_sales_amount,
       ROUND(SUM(f.unit_quantity), 2) AS sum_unit_quantity,
       COUNT(DISTINCT f.customer_id) AS distinct_customer_count,
       COUNT(*) AS count_of_fact_records
FROM f JOIN moved d ON d.node_natural_key = f.leaf_key
JOIN cl_moved c ON c.descendant_node_id = d.node_id
JOIN moved a ON a.node_id = c.ancestor_node_id
JOIN lv_moved lv ON lv.node_id = a.node_id
GROUP BY 1, 2""",
    }
    # columns of the Spark result each check reads
    cols = {
        "hierarchy.reporting": ["node_id", "level_number", "node_sort_order"],
        "hierarchy.aggdim": ["ancestor_node_id", "descendant_node_id", "net_level"],
    }
    out = {}
    for step, sql in expected.items():
        got = read_result(os.path.join(results, step))
        if got is None:
            out[step] = (False, "no result written")
            continue
        if step in cols:
            got = got[cols[step]]
        out[step] = compare(canon(got), canon(con.execute(sql).df()))
    return out


def check_run(workload, res, results, data):
    if workload == "dim_build":
        return check_dim(results)
    return check_registry(res, results, data)
