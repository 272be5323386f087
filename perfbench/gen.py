"""Seeded input generation for the benchmark workloads.

Everything the engine reads is made here from `--seed`; the same seed gives
byte-identical inputs. The engine never sees the seed itself.

- `star_tables`: TPC-H-shaped parquet tables (region, nation, customer,
  supplier, part, orders, lineitem) with the schemas and value ranges of the
  engine's test data, at a chosen scale factor.
- `nrt_inputs`: master-data CSVs plus transaction CSV micro-files derived from
  orders/lineitem/customer/part, with re-deliveries and unparseable dates.
- `sink_table`: the rows of a transactional table, in load commits.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["red", "blue", "green", "small", "large", "shiny", "steel", "pale"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "spring", "panel", "hinge"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"]
EPOCH = dt.datetime(1970, 1, 1)
ORDER_LO = dt.datetime(1995, 1, 1)
ORDER_HI = dt.datetime(2001, 8, 1)


def _days(lo, hi):
    return (lo - EPOCH).days, (hi - EPOCH).days


def _ts(rng, n, lo=ORDER_LO, hi=ORDER_HI):
    d0, d1 = _days(lo, hi)
    days = rng.integers(d0, d1 + 1, n).astype("int64")
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(out_dir, seed, sf):
    """Writes `<out_dir>/<table>.parquet` for the seven star source tables and
    returns their row counts. Row counts per `sf` follow the engine's test
    data (sf 0.001: 150 customers, 200 parts, 1,500 orders, ~6,000 lines)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    i32 = pa.int32()

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999, 9999, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999, 9999, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{c} {n}" for c, n in zip(rng.choice(COLORS, n_part),
                                                 rng.choice(NOUNS, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1_000, 500_000, n_ord),
            "o_orderdate": _ts(rng, n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
    }
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    tables["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype="int64"), lines),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: v.num_rows for k, v in tables.items()}


def _csv_field(v):
    s = str(v)
    return '"' + s.replace('"', '""') + '"' if ("," in s or '"' in s) else s


def _write_csv(path, header, rows):
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(_csv_field(v) for v in r) + "\n")


def nrt_inputs(out_dir, seed, star_dir, n_files, rows_per_file,
               redeliver_share=0.04, bad_date_share=0.02):
    """Master-data CSVs and `n_files` transaction micro-files of
    `rows_per_file` rows each, derived from the star tables in `star_dir`.

    Row j of the stream gets order id `j` and an event time one minute after
    row j-1, so the dedup watermark (1 day) never drops a fresh row. A share
    of rows are exact re-deliveries of a row from the previous ~300 (inside
    the watermark horizon, so in-stream dedup drops them), and a share carry
    an unparseable date (the cleaning step drops them).

    Returns a manifest: per file, the ids of the rows the pipeline must
    commit (first deliveries with a parseable date)."""
    rng = np.random.default_rng([seed, 2])
    master = os.path.join(out_dir, "master")
    files = os.path.join(out_dir, "files")
    os.makedirs(master, exist_ok=True)
    os.makedirs(files, exist_ok=True)
    part = pq.read_table(os.path.join(star_dir, "part.parquet")).to_pydict()
    supp = pq.read_table(os.path.join(star_dir, "supplier.parquet")).to_pydict()
    cust = pq.read_table(os.path.join(star_dir, "customer.parquet")).to_pydict()
    li = pq.read_table(os.path.join(star_dir, "lineitem.parquet"),
                       columns=["l_orderkey", "l_partkey", "l_quantity"]).to_pydict()
    orders = pq.read_table(os.path.join(star_dir, "orders.parquet"),
                           columns=["o_custkey"]).to_pydict()

    supp_nation = supp["s_nationkey"]
    products = []
    for i, pk in enumerate(part["p_partkey"]):
        s = i % len(supp["s_suppkey"])
        # every 7th store name is quoted with an embedded comma, as the
        # reference's master files are
        store = f"Store, {supp_nation[s]}" if i % 7 == 0 else f"Store {supp_nation[s]}"
        products.append((pk, part["p_name"][i], f"{part['p_retailprice'][i]:.2f}",
                         supp["s_suppkey"][s], supp["s_name"][s], supp_nation[s], store))
    _write_csv(os.path.join(master, "products.csv"),
               ["Product_ID", "Product_Name", "Price", "Supplier_ID",
                "Supplier_Name", "Store_ID", "Store_Name"], products)
    _write_csv(os.path.join(master, "customers.csv"),
               ["Customer_ID", "Customer_Name", "Gender"],
               [(c, cust["c_name"][i], cust["c_mktsegment"][i])
                for i, c in enumerate(cust["c_custkey"])])

    n_li = len(li["l_orderkey"])
    t0 = dt.datetime(2024, 1, 1)
    header = ["Order_ID", "Order_Date", "Product_ID", "Quantity_Ordered",
              "Customer_ID", "Time_ID"]
    emitted = []
    expected = []
    j = 0
    for f in range(n_files):
        rows, fresh = [], []
        for _ in range(rows_per_file):
            if emitted and rng.random() < redeliver_share:
                rows.append(emitted[max(0, len(emitted) - 1 - int(rng.integers(0, 300)))])
                continue
            src = int(rng.integers(0, n_li))
            ts = t0 + dt.timedelta(minutes=j)
            date = (f"{ts.year}-{ts.month}-{ts.day} {ts.hour}:{ts.minute:02d}:00"
                    if rng.random() >= bad_date_share else "2024-13-45 99:99:99")
            row = (f"{j:08d}", date, li["l_partkey"][src], int(li["l_quantity"][src]),
                   orders["o_custkey"][li["l_orderkey"][src]], ts.strftime("%Y%m%d"))
            rows.append(row)
            emitted.append(row)
            if not date.startswith("2024-13"):
                fresh.append(row[0])
            j += 1
        _write_csv(os.path.join(files, f"tx-{f:06d}.csv"), header, rows)
        expected.append(fresh)
    return expected


def sink_table(out_path, seed, days, rows_per_day, commits):
    """Rows of the transactional table `olap_star` reads, as `commits` load
    commits of contiguous day ranges (so manifest stats on `day` can prune).

    Line format, one commit per line: day,k,store,qty,amount;...
    Returns the rows as (day, k, store, qty, amount) tuples."""
    rng = np.random.default_rng([seed, 3])
    per_commit = -(-days // commits)
    lines = []
    for c in range(commits):
        lines.append([(day, f"k{int(k):06d}", int(rng.integers(0, 25)),
                       int(rng.integers(1, 100)), int(rng.integers(100, 1_000_000)))
                      for day in range(c * per_commit, min(days, (c + 1) * per_commit))
                      for k in rng.choice(4 * rows_per_day, size=rows_per_day, replace=False)])
    with open(out_path, "w") as f:
        for rows in lines:
            f.write(";".join(",".join(str(v) for v in r) for r in rows) + "\n")
    return [r for rows in lines for r in rows]
