"""Output checks against DuckDB, run after the JVM exits (outside the timed section).

mart_queries: each q* result against SparkEntry.oracleSql, with the
  canonicalisation of tools/oracle_check.py.
corpus_prep: the prepareV2 chunks against the m28_corpus_pipeline_v2 oracle,
  and the stored clusters asset's row count and hash xor against the
  warm-up op's. Both come from an untimed op after the timed ones.
retail_backfill: the three agg_* marts of every loaded day and the
  pipeline_runs manifest against SQL over that day's Day_Wise CSV.
"""
import glob
import json
import os
import re
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from oracle_check import canon  # noqa: E402

# id domains of the GenData tables, shared by primary and foreign keys
DOMAINS = {"event": [("events", "event_id")], "user": [("events", "user_id")],
           "order": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
           "cust": [("customer", "c_custkey"), ("orders", "o_custkey")],
           "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
           "supp": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
           "doc": [("documents", "doc_id")]}

MARTS = ["daily_revenue_summary", "daily_funnel_by_brand", "top_brands_by_revenue"]


def write_domains(base):
    """Size of each id domain (max id + 1) of the base tables, for the re-keying."""
    con = duckdb.connect()
    with open(os.path.join(base, "domains.txt"), "w") as f:
        for d, cols in DOMAINS.items():
            n = max(con.sql(f"SELECT max({c}) FROM '{base}/{t}.parquet/*.parquet'").fetchone()[0]
                    for t, c in cols) + 1
            f.write(f"{d} {n}\n")


def same(got, want):
    got, want = canon(got), canon(want)
    return list(got.columns) == list(want.columns) and len(got) == len(want) and got.equals(want)


def views(con, in_dir, tables):
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet/*.parquet'")
        yield t, con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]


_CTE = re.compile(r"(\bWITH(?:\s+RECURSIVE)?\s+|,\s*)([A-Za-z_]\w*)\s+AS\s+\(", re.I)


def materialize_ctes(sql):
    """Mark each non-recursive CTE that is referenced more than once
    MATERIALIZED. DuckDB 1.0 inlines CTEs, and re-evaluates them in every
    step of a recursive CTE that reads them (m28's connected components:
    23 s, 1.4 s materialised). The result is the same."""
    out, last = [], 0
    for m in _CTE.finditer(sql):
        name, depth, i, quoted = m.group(2), 1, m.end(), False
        while depth and i < len(sql):  # to the CTE's closing paren, skipping '...' literals
            c = sql[i]
            quoted ^= c == "'"
            if not quoted:
                depth += {"(": 1, ")": -1}.get(c, 0)
            i += 1
        body = sql[m.end():i]
        refs = len(re.findall(rf"\b{name}\b", sql)) - 1
        if refs >= 2 and not re.search(rf"\b{name}\b", body):
            out.append(sql[last:m.start()] + f"{m.group(1)}{name} AS MATERIALIZED (")
            last = m.end()
    return "".join(out) + sql[last:]


def oracle(workload, record, work, tables):
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    in_dir = os.path.join(record["run_dir"], "in")
    rows = dict(views(con, in_dir, tables))
    sqls = json.load(open(os.path.join(work, "check", "oracle.json")))
    failed = []
    for name, sql in sorted(sqls.items()):
        files = glob.glob(os.path.join(work, "check", name, "*.parquet"))
        try:
            ok = bool(files) and same(pd.concat([pd.read_parquet(f) for f in files]),
                                      con.sql(materialize_ctes(sql)).df())
        except Exception as e:  # an oracle error is a failed check, not a crash
            print(f"[perfbench] check {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            failed.append(name)
    return {"checked": len(sqls), "failed": failed, "rows": rows,
            "all_failed": workload == "corpus_prep" and bool(failed)}


RAW = ("read_csv('{f}', header=true, escape='\\', columns={{'event_time':'VARCHAR', "
       "'event_type':'VARCHAR', 'product_id':'BIGINT', 'category_id':'BIGINT', "
       "'category_code':'VARCHAR', 'brand':'VARCHAR', 'price':'DECIMAL(10,2)', "
       "'user_id':'BIGINT', 'user_session':'VARCHAR', 'event_date':'DATE'}})")

# RetailPipeline's day, in SQL: ingest fills, fact grain, keep-first product dim.
DAY = """
WITH st AS (SELECT event_type, product_id, category_id, user_id, price,
                   coalesce(category_code, 'Unknown') AS category_code,
                   coalesce(brand, 'Generic') AS brand FROM {raw}),
fact AS (SELECT event_type, product_id, user_id, count(*) AS total_events,
                CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN CAST(price AS DOUBLE)
                              ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
         FROM st GROUP BY ALL),
dimp AS (SELECT product_id, brand, category_code FROM (
           SELECT *, row_number() OVER (PARTITION BY product_id
                     ORDER BY price, brand NULLS LAST, category_id) AS rn
           FROM (SELECT DISTINCT product_id, category_id, category_code, brand, price FROM st))
         WHERE rn = 1),
revenue AS (SELECT DATE '{d}' AS event_date,
                   CAST(sum(CAST(total_revenue AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(DISTINCT user_id) AS unique_users,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
                   CAST(sum(CASE WHEN event_type = 'cart' THEN 1 ELSE 0 END) AS BIGINT) AS carts,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views
            FROM fact),
funnel AS (SELECT DATE '{d}' AS event_date, brand, category_code,
                  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
                  CAST(sum(CASE WHEN event_type = 'cart' THEN 1 ELSE 0 END) AS BIGINT) AS carts,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
                  CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN total_revenue ELSE 0.0 END
                                AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           FROM fact JOIN dimp USING (product_id) GROUP BY brand, category_code)
"""
MART_SQL = {
    "daily_revenue_summary": "SELECT *, carts / nullif(views, 0) AS cart_rate, "
                             "purchases / nullif(views, 0) AS purchase_rate FROM revenue",
    "daily_funnel_by_brand": "SELECT * FROM funnel",
    "top_brands_by_revenue": "SELECT * FROM funnel ORDER BY revenue DESC, brand NULLS LAST LIMIT 10",
}


def backfill(record):
    run_dir = record["run_dir"]
    con = duckdb.connect()
    ops = record["ops"]
    days = [o["name"] for o in ops if o["ok"]]
    failed, rows = [], {}
    for d in days:
        f = os.path.join(run_dir, "raw", "Day_Wise", d, "event.csv")
        raw = RAW.format(f=f)
        rows[d] = con.sql(f"SELECT count(*) FROM {raw}").fetchone()[0]
        for m in MARTS:
            got = con.sql(f"SELECT * FROM read_parquet('{run_dir}/mart/aggregates/{m}/dt={d}/"
                          f"*.parquet', hive_partitioning=false)").df()
            want = con.sql(DAY.format(raw=raw, d=d) + MART_SQL[m]).df()
            if not same(got, want):
                print(f"[perfbench] check {m} {d}: mismatch", file=sys.stderr)
                failed.append(d)
    # Manifest: one row per day run, run_seq in run order, 'complete' when it succeeded.
    got = con.sql(f"SELECT run_seq, date, branch, tables, error FROM "
                  f"'{run_dir}/warehouse/pipeline_runs/*.parquet' ORDER BY run_seq").fetchall()
    tables = ",".join(sorted(MARTS))
    for i, o in enumerate(ops):
        want = (i + 1, o["name"], "complete", tables, None)
        if o["ok"] and (i >= len(got) or tuple(got[i]) != want):
            print(f"[perfbench] check pipeline_runs {o['name']}: "
                  f"{got[i] if i < len(got) else None}", file=sys.stderr)
            failed.append(o["name"])
    if len(got) != len(ops):
        failed += days
    return {"checked": len(days) * (len(MARTS) + 1), "failed": sorted(set(failed)),
            "rows": {"raw_rows_per_day_median": sorted(rows.values())[len(rows) // 2] if rows else 0,
                     "raw_rows": sum(rows.values()), "days": len(days)}}


def run(workload, record, work):
    if workload == "retail_backfill":
        return backfill(record)
    if workload == "mart_queries":
        return oracle(workload, record, work, ["events", "orders", "lineitem", "customer", "part",
                                               "supplier", "nation", "region"])
    res = oracle(workload, record, work, ["documents"])
    res["checked"] += 1
    if not same_clusters(record["clusters_digest"]):
        print(f"[perfbench] check clusters_digest: {record['clusters_digest']}", file=sys.stderr)
        res["failed"].append("clusters_digest")
        res["all_failed"] = True
    return res


def same_clusters(digest):
    """The check op's stored clusters asset has rows and the warm-up op's
    (row count, xor of row hashes)."""
    return bool(digest.get("check")) and digest["check"][0] > 0 \
        and digest["check"] == digest.get("warmup")
