"""Seeded input generation for the benchmark.

Two kinds of input, both a pure function of (seed, size):

* `fixture(dir, sf, seed)` writes the ten parquet tables the query families
  read (`graft.Tables`): a TPC-H-like star schema plus `events`,
  `documents` and `embeddings`, with the schemas and value ranges of the
  repository's test fixtures (FIXTURES.md).
* `backfill(dir, seed, ...)` writes the typed POS rows of D consecutive
  business days (`days.tsv`) and the delivery plan (`plan.json`). The JVM
  side formats each day into an `R520.<yyyyMMdd>_*.zip` by the program's
  `FixedWidth.LineitemLayout`; the checker replays the plan to compute the
  expected state of the daily tables.

Same seed, same bytes: numpy's PCG64 stream drives every value and pyarrow
writes deterministic parquet.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the join hash row batch scan column customer filter small slow "
         "merge order vector line table data agg value key stream window "
         "spark part group big sort query fast").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
EPOCH = datetime.date(1970, 1, 1)


def _days(d):
    return (d - EPOCH).days


def _ts_us(day_numbers):
    return pa.array(day_numbers.astype("int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def lineitem_rows(rng, n_orders, n_parts, n_supp, ship_lo, ship_hi):
    """TPC-H-shaped lineitem: 1-7 lines per order, unique (orderkey,
    linenumber), money rounded to cents so every value survives the
    fixed-width layout's cents/basis-point encoding exactly."""
    per = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per)
    starts = np.repeat(np.cumsum(per) - per, per)
    line = (np.arange(len(okey)) - starts + 1).astype(np.int32)
    n = len(okey)
    return {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": line,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n),
        "l_linestatus": rng.choice(np.array(["F", "O"], dtype=object), n),
        "l_shipdate": rng.integers(ship_lo, ship_hi + 1, n),
    }


def fixture(out, sf, seed):
    """The ten query tables at scale factor `sf` under `out/<t>.parquet`."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": rng.integers(-99_999, 1_000_000, n_cust) / 100.0,
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": rng.integers(-99_999, 1_000_000, n_supp) / 100.0})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _choice(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    lo, hi = _days(datetime.date(1995, 1, 1)), _days(datetime.date(2001, 8, 1))
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _choice(rng, ["P", "O", "F"], n_ord),
        "o_totalprice": rng.integers(100_000, 50_000_000, n_ord) / 100.0,
        "o_orderdate": _ts_us(rng.integers(lo, hi + 1, n_ord)),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)})
    li = lineitem_rows(rng, n_ord, n_part, n_supp, lo + 1, hi + 95)
    li["l_shipdate"] = _ts_us(li["l_shipdate"])
    _write(f"{out}/lineitem.parquet", li)
    n_ev, n_users = int(1_000_000 * sf), max(15, int(15_000 * sf))
    t0 = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_ev))
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(f"{out}/documents.parquet", documents(rng, max(500, int(50_000 * sf))))
    n_vec = max(500, int(20_000 * sf))
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})


def documents(rng, n):
    """Bag-of-words documents; one in twenty repeats an earlier document
    with a ' dup' suffix, so the near-duplicate queries find real pairs."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def backfill(out, seed, n_days, n_orders, late_share=0.1, retention=4):
    """D consecutive business days of typed POS rows plus the delivery plan.

    Orders are dealt to days by the seed; each line of day d ships on d,
    except a `late_share` of lines dated 1-3 days earlier (late records).
    With three days or more, one day (never the first) is delivered a second
    time right after the day that follows it.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    first = datetime.date(2024, 3, 4) + datetime.timedelta(int(rng.integers(0, 300)))
    dates = [first + datetime.timedelta(d) for d in range(n_days)]
    li = lineitem_rows(rng, n_orders, 20_000, 1_000, 0, 0)
    order_day = rng.integers(0, n_days, n_orders)
    day = order_day[li["l_orderkey"]]
    late = np.where(rng.random(len(day)) < late_share, rng.integers(1, 4, len(day)), 0)
    ship = np.array([_days(d) for d in dates])[day] - late
    sort = np.lexsort((li["l_linenumber"], li["l_orderkey"], day))
    cols = {
        "day": day,
        "f_orderkey": li["l_orderkey"],
        "f_linenumber": li["l_linenumber"],
        "f_sku": li["l_partkey"],
        "f_suppkey": li["l_suppkey"],
        "f_qty_cents": (li["l_quantity"] * 100).astype(np.int64),
        "f_price_cents": np.rint(li["l_extendedprice"] * 100).astype(np.int64),
        "f_discount_bp": np.rint(li["l_discount"] * 10_000).astype(np.int64),
        "f_tax_bp": np.rint(li["l_tax"] * 10_000).astype(np.int64),
        "f_returnflag": li["l_returnflag"],
        "f_linestatus": li["l_linestatus"],
        "f_shipdate": [(EPOCH + datetime.timedelta(int(x))).isoformat() for x in ship]}
    with open(f"{out}/days.tsv", "w") as f:
        f.write("\t".join(cols) + "\n")
        for i in sort:
            f.write("\t".join(str(c[i]) for c in cols.values()) + "\n")
    runs = list(range(n_days))
    if n_days >= 3:
        redo = int(rng.integers(1, n_days - 1))
        runs.insert(redo + 2, redo)
    plan = {"dates": [d.isoformat() for d in dates], "runs": runs,
            "retention_days": retention}
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan
