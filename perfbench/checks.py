"""Output checks: each workload's results against an independent computation.

- olap_star: every query's result against DuckDB running the engine's own
  oracle SQL (`SparkEntry.oracleSql`) over the same parquet, compared with
  the canonicalisation of `tools/diffcheck.py`.
- nrt_ingest: the table the stream committed against a batch replay of the
  same generated files, computed here in DuckDB.
- olap_star's manifest-pruned reads of the transactional table: every
  answer against the same predicate evaluated here over the generated rows.

`check` returns a list of error strings; each counts as one failed
operation.
"""
import glob
import importlib.util
import os
from decimal import Decimal

import duckdb
import pandas as pd


def _diffcheck(root):
    spec = importlib.util.spec_from_file_location(
        "diffcheck", os.path.join(root, "tools", "diffcheck.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _read_parquet_dir(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def check_olap(raw, data, root):
    dc = _diffcheck(root)
    star = os.path.join(data, "star")
    con = duckdb.connect()
    for t in dc.TABLES:
        path = os.path.join(star, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    errors, rows = [], 0
    for name, sql in sorted(raw["oracle_sql"].items()):
        spark_df = _read_parquet_dir(os.path.join(raw["results_dir"], name))
        if spark_df is None:
            errors.append(f"{name}: no engine output")
            continue
        s_rows, s_cols = dc.frame_rows(spark_df)
        d_rows, d_cols = dc.frame_rows(con.execute(sql).df())
        rows += len(s_rows)
        if s_cols != d_cols:
            errors.append(f"{name}: columns differ: engine={s_cols} oracle={d_cols}")
        elif s_rows != d_rows:
            errors.append(f"{name}: rows differ (engine={len(s_rows)}, oracle={len(d_rows)}"
                          f"{', same multiset' if sorted(s_rows) == sorted(d_rows) else ''})")
    return errors, {"result_rows": rows}


def check_nrt(raw, data):
    """Batch replay of every delivered file: parse, drop unparseable dates,
    keep the first delivery of each order id, enrich with master data, and
    compute the revenue measure; the committed table must equal it."""
    nrt = os.path.join(data, "nrt")
    con = duckdb.connect()
    delivered = raw["delivered_files"]
    con.execute(f"""
        CREATE TABLE tx AS SELECT * FROM read_csv(
          [{", ".join(f"'{nrt}/files/tx-{i:06d}.csv'" for i in range(delivered))}],
          header=true, all_varchar=true, filename=true)""")
    con.execute(f"""CREATE TABLE products AS SELECT * FROM read_csv('{nrt}/master/products.csv',
                    header=true, all_varchar=true, quote='"', escape='"')""")
    con.execute(f"""CREATE TABLE customers AS SELECT * FROM read_csv('{nrt}/master/customers.csv',
                    header=true, all_varchar=true)""")
    expected = con.execute("""
        WITH parsed AS (
          SELECT *, try_strptime(Order_Date, '%Y-%m-%d %H:%M:%S') AS ts FROM tx),
        firsts AS (
          SELECT * FROM parsed WHERE ts IS NOT NULL
          QUALIFY row_number() OVER (PARTITION BY Order_ID ORDER BY filename) = 1)
        SELECT f.Order_ID AS order_id, f.Product_ID AS product_id,
               f.Customer_ID AS customer_id, CAST(f.Quantity_Ordered AS INT) AS qty,
               CAST(ROUND(CAST(f.Quantity_Ordered AS INT) * CAST(p.Price AS DECIMAL(12,2)), 2)
                    AS DECIMAL(14,2)) AS revenue
        FROM firsts f
        JOIN products p ON f.Product_ID = p.Product_ID
        JOIN customers c ON f.Customer_ID = c.Customer_ID
        ORDER BY order_id""").df()
    got = _read_parquet_dir(raw["final_table"])
    errors = []
    if got is None:
        return [f"committed table is empty; expected {len(expected)} rows"], {}
    got = got.rename(columns={"quantity_ordered": "qty", "total_revenue": "revenue"})
    got = got[["order_id", "product_id", "customer_id", "qty", "revenue"]] \
        .sort_values("order_id").reset_index(drop=True)
    def canon(r):
        return (str(r[0]), str(r[1]), str(r[2]), int(r[3]), f"{Decimal(str(r[4])):.2f}")

    exp_rows = {canon(r) for r in expected.itertuples(index=False)}
    got_rows = [canon(r) for r in got.itertuples(index=False)]
    if len(set(got_rows)) != len(got_rows):
        errors.append(f"committed table has {len(got_rows) - len(set(got_rows))} duplicate rows")
    missing, extra = exp_rows - set(got_rows), set(got_rows) - exp_rows
    if missing or extra:
        errors.append(f"committed table differs from the batch replay: {len(missing)} missing, "
                      f"{len(extra)} unexpected rows (e.g. {sorted(missing or extra)[:2]})")
    return errors, {"replay_rows": len(exp_rows), "committed_rows": len(got_rows)}


def sink_answer(rows, kind, pred):
    """The answer a pruned read of the sink table must give, from the
    generated rows (day, k, store, qty, amount)."""
    p = pred.split()
    if kind == "count_where":  # day >= A AND day <= B
        lo, hi = int(p[2]), int(p[6])
        return str(sum(1 for r in rows if lo <= r[0] <= hi))
    day = int(p[2])
    hit = [r for r in rows if r[0] == day]
    if kind == "snapshot_where":  # day = D AND qty >= Q
        return str(sum(1 for r in hit if r[3] >= int(p[6])))
    # stats_where, day = D: (column, n_rows, min, max, sum) per column
    out = []
    for name, i in (("amount", 4), ("qty", 3)):
        vals = [r[i] for r in hit]
        out.append(f"{name},{len(vals)},{min(vals)},{max(vals)},{sum(vals)}" if vals
                   else f"{name},0,null,null,null")
    return ";".join(sorted(out))


def check_sink_reads(raw, rows):
    errors = []
    for a in raw["read_answers"]:
        want = sink_answer(rows, a["kind"], a["pred"])
        if a["answer"] != want:
            errors.append(f"{a['kind']} [{a['pred']}]: engine={a['answer']} expected={want}")
    return errors


def check(workload, raw, inputs, data, root):
    """(errors, facts) for one run; facts feed the metrics."""
    if workload == "olap_star":
        errors, facts = check_olap(raw, data, root)
        reads = check_sink_reads(raw, inputs["sink_rows"])
        facts["sink_reads_checked"] = len(raw["read_answers"])
        return errors + reads, facts
    return check_nrt(raw, data)

