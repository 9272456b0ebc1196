"""Output checks. Each returns a list of (name, reason) failures.

* `queries`: every query's first result against DuckDB running
  `SparkEntry.oracleSql` over the same fixture, by the rule of
  tools/check_correctness.py: same column names, same row count, same
  column kinds, and the same order-insensitive value signature (doubles at
  12 significant digits, everything else exact).
* `backfill`: the daily tables against the state replayed from the
  generated inputs and the delivery plan.
"""
import collections
import csv
import datetime
import decimal
import glob
import json
import os

import duckdb
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def cell(v):
    if v is None or v != v:
        return "<null>"
    if isinstance(v, float):
        return f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, decimal.Decimal):
        return str(v)
    return str(v)


def kind(t):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    return str(t)


def compare(oracle, got):
    """Returns the reason `got` differs from `oracle`, or None."""
    ocols, gcols = sorted(oracle.column_names), sorted(got.column_names)
    if ocols != gcols:
        return f"columns oracle={ocols} got={gcols}"
    if oracle.num_rows != got.num_rows:
        return f"rows oracle={oracle.num_rows} got={got.num_rows}"
    wide = [f.name for f in got.schema if pa.types.is_decimal(f.type)]
    if wide:
        return f"decimal-typed output columns {wide}"
    okind = {c: kind(oracle.schema.field(c).type) for c in ocols}
    gkind = {c: kind(got.schema.field(c).type) for c in gcols}
    if okind != gkind:
        return f"column kinds differ: oracle={okind} got={gkind}"

    def sig(t):
        cols = [t.column(c).to_pylist() for c in ocols]
        return sorted("|".join(cell(c[i]) for c in cols) for i in range(t.num_rows))
    osig, gsig = sig(oracle), sig(got)
    if osig != gsig:
        bad = [i for i, (a, b) in enumerate(zip(osig, gsig)) if a != b]
        return f"{len(bad)}/{len(osig)} rows differ; first oracle={osig[bad[0]]!r} got={gsig[bad[0]]!r}"
    return None


def queries(fixture, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    failures = []
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            failures.append((name, "no output"))
            continue
        try:
            why = compare(con.execute(sql).fetch_arrow_table(), pq.read_table(files))
        except Exception as e:  # an oracle or read error is a failed check
            why = f"error {e}"
        if why:
            failures.append((name, why))
    return failures


# ---- daily backfill ----------------------------------------------------------

def replay(inp):
    """The daily tables the plan should leave: for each run, the file's rows
    whose natural key is not yet in the final table are added, the rollups
    are taken, then days before max(f_shipdate) - retention are dropped.
    Returns (final rows by key, last sku_daily, last sales_daily, records
    per file date)."""
    with open(f"{inp}/plan.json") as f:
        plan = json.load(f)
    by_day = collections.defaultdict(list)
    with open(f"{inp}/days.tsv") as f:
        for r in csv.DictReader(f, delimiter="\t"):
            r = {c: (v if c in ("f_returnflag", "f_linestatus") else
                     datetime.date.fromisoformat(v) if c == "f_shipdate" else int(v))
                 for c, v in r.items()}
            by_day[r["day"]].append(r)
    final, sku, sales = {}, {}, {}
    for d in plan["runs"]:
        bdate = datetime.date.fromisoformat(plan["dates"][d])
        for r in by_day[d]:
            k = (r["f_orderkey"], r["f_linenumber"])
            if k not in final:
                row = {c: v for c, v in r.items() if c != "day"}
                row["business_date"] = bdate
                final[k] = row
        sku, sales = rollups(final.values())
        as_of = max(r["f_shipdate"] for r in final.values())
        cutoff = as_of - datetime.timedelta(plan["retention_days"])
        final = {k: r for k, r in final.items() if r["f_shipdate"] >= cutoff}
    counts = {plan["dates"][d]: len(by_day[d]) for d in range(len(plan["dates"]))}
    return final, sku, sales, counts


def rollups(rows):
    sku = collections.defaultdict(lambda: [0, 0, 0])
    sales = collections.defaultdict(lambda: [0, set()])
    for r in rows:
        a = sku[(r["f_sku"], r["f_shipdate"])]
        a[0] += r["f_qty_cents"]
        a[1] += r["f_price_cents"]
        a[2] += 1
        b = sales[r["f_shipdate"]]
        b[0] += r["f_price_cents"]
        b[1].add(r["f_orderkey"])
    return ({k: tuple(v) for k, v in sku.items()},
            {k: (v[0], len(v[1])) for k, v in sales.items()})


def read_final(path):
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    rows = {}
    for r in t.to_pylist():
        r["f_shipdate"] = datetime.date.fromisoformat(str(r["f_shipdate"]))
        rows[(r["f_orderkey"], r["f_linenumber"])] = r
    return rows, t.num_rows


def backfill(inp, res):
    work = res["work_dir"]
    final, sku, sales, counts = replay(inp)
    failures = []
    got, n = read_final(f"{work}/final")
    if n != len(got):
        failures.append(("final", f"{n - len(got)} duplicate natural keys"))
    if got.keys() != final.keys():
        failures.append(("final", f"row set differs: {len(final.keys() - got.keys())} missing, "
                                  f"{len(got.keys() - final.keys())} unexpected"))
    else:
        bad = [k for k in final if any(final[k][c] != got[k].get(c) for c in final[k])]
        if bad:
            failures.append(("final", f"{len(bad)} rows differ in value, e.g. {bad[0]}"))
    got_sku = {(r["sku"], r["business_date"]): (r["qty_cents"], r["price_cents"], r["n_lines"])
               for r in pq.read_table(f"{work}/agg/sku_daily").to_pylist()}
    if got_sku != sku:
        failures.append(("sku_daily", "rollup does not reconcile with the promoted rows"))
    got_sales = {r["business_date"]: (r["price_cents"], r["n_orders"])
                 for r in pq.read_table(f"{work}/agg/sales_daily").to_pylist()}
    if got_sales != sales:
        failures.append(("sales_daily", "rollup does not reconcile with the promoted rows"))
    archived = {os.path.basename(p) for p in glob.glob(f"{work}/archive/Daily/*/*/*")}
    if len(archived) != len(counts):
        failures.append(("archive", f"{len(archived)} archived files, expected {len(counts)}"))
    with open(f"{inp}/plan.json") as f:
        runs = len(json.load(f)["runs"])
    left = os.listdir(res["drop_dir"])
    if len(left) != runs - len(counts):
        failures.append(("archive", f"drop dir holds {left}, expected the redelivered file only"))
    notes = res["notifications"]
    if len(notes) != runs:
        failures.append(("notify", f"{len(notes)} notifications for {runs} runs"))
    for note in notes:
        name = note["Subject"].rsplit(" ", 1)[-1]
        date = f"{name[5:9]}-{name[9:11]}-{name[11:13]}"
        want = f"Rows processed: {counts.get(date)}<"
        if not note["Subject"].startswith("POS ETL succeeded") or want not in note["Body"]:
            failures.append(("notify", f"{note['Subject']}: expected {want.rstrip('<')}"))
    return failures
