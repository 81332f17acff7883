"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of (seed, size):

* ``tables`` -- the TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the library reads from a
  directory of parquet files, one file per table. Column names and
  types follow the tables the library's loaders expect
  (``graft.model.Tables``); distributions are uniform like the
  reference test data, with 5% near-duplicate and a few exact-duplicate
  documents so the dedup kernels have work.
* ``uploads`` -- days of raw store upload files
  (``store_XXXX_YYYY-MM-DD.json``, one JSON array of line items each)
  with the reference generator's realism knobs: store tiers,
  day-of-week multipliers, per-product sine popularity waves, a
  month-edge payday bump, +-20% daily noise and about 1.74 items per
  transaction. A seeded share of rows is made invalid (payment method
  outside the enum, quantity 0) and a few files are re-sent under an
  invalid file name; the generator returns exactly how many rows it
  made invalid, so the reject check does not rely on the code under
  test.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_WORDS = ["large", "hot", "blue", "small", "red", "green", "steel", "ring",
              "bolt", "nut", "gear", "pipe"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD"]
# Line items ship in one month, the reference's sizing unit and the
# library's default dashboard month.
SHIP_MONTH = "1998-06"
ORDER_FROM = np.datetime64("1995-01-01")
ORDER_DAYS = 2404


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _days_to_ts(start, days):
    return (start + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(x):
    return np.round(x, 2)


def gen_tables(out_dir, seed, sf):
    """Write the ten library tables at scale factor ``sf`` under ``out_dir``.
    Row counts follow TPC-H (lineitem = 6M x sf); documents and
    embeddings scale as 50k x sf and 20k x sf."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(11, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))}))
    pw = np.array(PART_WORDS)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(pw[rng.integers(0, 7, n_part)], " "),
                              pw[rng.integers(7, 12, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(900 + (np.arange(n_part) % 1000) * 0.1)}))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng.uniform(1000, 500_000, n_ord)),
        "o_orderdate": _days_to_ts(ORDER_FROM, rng.integers(0, ORDER_DAYS, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}))
    rf = rng.integers(0, 3, n_li)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng.uniform(900, 105_000, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rf],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days_to_ts(np.datetime64(f"{SHIP_MONTH}-01"),
                                  rng.integers(0, 30, n_li))}))

    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype("timedelta64[us]")
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng.exponential(50.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))

    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
             for _ in range(n_doc)]
    # 5% near duplicates (a copy of another document plus one token) and
    # a handful of exact duplicates
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    for i in rng.choice(n_doc, max(2, n_doc // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    x = rng.normal(0, 1, (n_emb, 64)) + 0.6 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))
    return {"lineitem": n_li, "documents": n_doc, "embeddings": n_emb,
            "stores": n_supp}


# ---- the upload month -------------------------------------------------

CATALOG = [(f"SMURF-{kind}-{i:03d}", f"Smurf {kind.title()} {i}", price)
           for i, (kind, price) in enumerate(
               [("FIG", 12.99), ("FIG", 14.99), ("FIG", 9.99), ("FIG", 19.99),
                ("PLU", 24.99), ("PLU", 29.99), ("PLU", 34.99), ("MUG", 11.50),
                ("MUG", 13.25), ("TEE", 21.00), ("TEE", 23.50), ("CAP", 17.75),
                ("KEY", 4.99), ("KEY", 5.49), ("BOK", 15.99), ("BOK", 18.49),
                ("DVD", 9.49), ("PUZ", 22.99), ("SET", 49.99), ("HAT", 27.50)], 1)]
PAYMENTS = ["cash", "credit", "debit", "gift_card", "mobile"]
PAYMENT_P = [0.20, 0.35, 0.25, 0.10, 0.10]
# Mon..Sun
DOW_MULT = [0.85, 0.90, 0.95, 1.00, 1.20, 1.40, 1.10]
# 1..5 items per transaction, mean 1.76
ITEMS_P = [0.55, 0.25, 0.12, 0.05, 0.03]
QTY_P = [0.60, 0.25, 0.10, 0.05]


STORES = 11
TXN_PER_STORE_DAY = 200
BAD_ROW_FRAC = 0.02
BAD_FILE_FRAC = 0.03
FIRST_DAY = dt.date(2024, 3, 1)


def gen_uploads(out_dir, seed, n_days):
    """Write STORES x ``n_days`` upload files into ``out_dir/day=YYYY-MM-DD/``
    (one sub-directory per daily wave). Returns the wave list and the exact
    valid/invalid row counts."""
    rng = np.random.default_rng([seed, 2])
    tiers_txn = rng.uniform(0.6, 1.3, STORES)
    tiers_val = rng.uniform(0.85, 1.15, STORES)
    periods = rng.uniform(10, 14, len(CATALOG))
    phases = rng.uniform(0, 2 * np.pi, len(CATALOG))
    base_pop = rng.uniform(0.5, 1.5, len(CATALOG))
    regulars = [f"CUST-{int(c):05d}" for c in rng.choice(100_000, 500, replace=False)]
    waves, rows_total, rows_bad, files_bad, bytes_total = [], 0, 0, 0, 0
    for d in range(n_days):
        day = FIRST_DAY + dt.timedelta(days=d)
        ymd = day.isoformat()
        wave_dir = os.path.join(out_dir, f"day={ymd}")
        os.makedirs(wave_dir, exist_ok=True)
        payday = 1.15 if day.day <= 2 or day.day in (15, 16) or \
            (day + dt.timedelta(days=1)).month != day.month else 1.0
        pop = base_pop * (1 + 0.35 * np.sin(2 * np.pi * d / periods + phases))
        pop = pop / pop.sum()
        files = []
        for s in range(STORES):
            store = f"{s + 1:04d}"
            noise = rng.uniform(0.8, 1.2)
            n_txn = max(1, int(TXN_PER_STORE_DAY * tiers_txn[s] * DOW_MULT[day.weekday()]
                               * payday * noise))
            rows = []
            for t in range(n_txn):
                tid = f"TXN-{store}-{day:%Y%m%d}-{t + 1:04d}"
                secs = int(rng.integers(9 * 3600, 21 * 3600))
                stamp = f"{ymd}T{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}"
                pay = PAYMENTS[rng.choice(5, p=PAYMENT_P)]
                cust = regulars[int(rng.integers(0, 500))] if rng.random() < 0.7 \
                    else f"CUST-{int(rng.integers(0, 100_000)):05d}"
                for p in rng.choice(len(CATALOG), rng.choice(5, p=ITEMS_P) + 1,
                                    replace=False, p=pop):
                    sku, name, price = CATALOG[p]
                    unit = round(price * tiers_val[s], 2)
                    qty = int(rng.choice(4, p=QTY_P)) + 1
                    total = round(unit * qty, 2)
                    u = rng.random()
                    disc = 0.0 if u < 0.80 else round(
                        total * (rng.uniform(0.05, 0.10) if u < 0.95
                                 else rng.uniform(0.15, 0.25)), 2)
                    rows.append({"transaction_id": tid, "transaction_timestamp": stamp,
                                 "item_sku": sku, "item_name": name, "quantity": qty,
                                 "unit_price": unit, "line_total": total,
                                 "discount_amount": disc, "payment_method": pay,
                                 "customer_id": cust})
            for r in rows:
                if rng.random() < BAD_ROW_FRAC:
                    rows_bad += 1
                    if rng.random() < 0.5:
                        r["payment_method"] = "bitcoin"
                    else:
                        r["quantity"], r["line_total"] = 0, 0.0
            rows_total += len(rows)
            body = json.dumps(rows, separators=(",", ":"))
            name = f"store_{store}_{ymd}.json"
            files.append((name, body))
            if rng.random() < BAD_FILE_FRAC:
                # a re-send under a name the validator must refuse
                files.append((f"store_{store}_{day:%Y%m%d}.json", body))
                files_bad += 1
                rows_total += len(rows)
                rows_bad += len(rows)
        for name, body in files:
            with open(os.path.join(wave_dir, name), "w") as f:
                f.write(body)
            bytes_total += len(body)
        waves.append({"day": ymd, "dir": wave_dir, "files": len(files)})
    return {"waves": waves, "stores": STORES, "rows_total": rows_total,
            "rows_bad": rows_bad, "rows_valid": rows_total - rows_bad,
            "files_bad": files_bad, "bytes": bytes_total}
