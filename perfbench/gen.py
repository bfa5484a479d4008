"""Seeded input generators for the benchmark.

Two families:

* ``write_retail`` writes a Superstore-shaped extract (the paper's own
  input): latin1 CSV, ``M/d/yyyy`` dates, ``Category`` about 90% null and
  product ids that carry more than one name inside one extract. It writes
  one full re-extract per ETL day (day 0 is the first load; each later day
  adds about 1% new keys and changes the tracked attributes of about 2% of
  keys) and an oracle: the exact cent sums the dashboard must reproduce,
  and the SCD2 change counts the warehouse must show.
* ``write_catalog_tables`` writes the TPC-H-ish parquet tables the
  operator catalog reads (region .. embeddings), shaped like the repo's
  testdata (TESTDATA.md, FIXTURES.md B). They are fixed (internal seed
  42), so the row counts the catalog entries return can be committed
  beside the benchmark.

The same seed gives byte-identical files.
"""
import datetime
import json
import os

import numpy as np

# --------------------------------------------------------------- retail

HEADER = ("Row ID,Order ID,Order Date,Ship Date,Ship Mode,Customer ID,"
          "Customer Name,Segment,Country,City,State,Postal Code,Region,"
          "Product ID,Category,Sub-Category,Product Name,Sales,Quantity,"
          "Discount,Profit")
SEGMENTS = ["Consumer", "Corporate", "Home Office"]
SHIP_MODES = ["First Class", "Same Day", "Second Class", "Standard Class"]
CATEGORIES = ["Beauty", "Clothing", "Electronics"]
DEFAULT_CATEGORY = "Jewellery"   # the dashboard's fill for a null category
SUB_CATEGORIES = ["Accessories", "Appliances", "Art", "Binders", "Bookcases",
                  "Chairs", "Copiers", "Envelopes", "Fasteners", "Furnishings",
                  "Labels", "Machines", "Paper", "Phones", "Storage",
                  "Supplies", "Tables"]
FAMILIES = ["FUR", "OFF", "TEC"]
GEO = [("Henderson", "Kentucky", "42420", "South"),
       ("Los Angeles", "California", "90036", "West"),
       ("Fort Lauderdale", "Florida", "33311", "South"),
       ("Concord", "North Carolina", "28027", "South"),
       ("Seattle", "Washington", "98103", "West"),
       ("Fort Worth", "Texas", "76106", "Central"),
       ("Madison", "Wisconsin", "53711", "Central"),
       ("West Jordan", "Utah", "84084", "West"),
       ("Philadelphia", "Pennsylvania", "19140", "East"),
       ("Springfield", "Massachusetts", "01107", "East")]
FIRST = ["Claire", "Darrin", "Sean", "Brosina", "Andrew", "Irene", "Harold",
         "Pete", "Zuschuss", "Ken", "Sandra", "Emily", "Eric", "Tracy",
         "Matt", "Gene", "Steve", "Linda", "Ruben", "Erin", "Odella",
         "Patrick", "Lena", "Janet", "José", "Zoë", "Renée", "Björn"]
LAST = ["Gute", "Van Huff", "O'Donnell", "Hoffman", "Allen", "Maddox",
        "Pawlan", "Kriz", "Carroll", "Lonsdale", "Flathmann", "Grady",
        "Hoffmann", "Hendrickson", "Abelman", "Hale", "Ryan", "Cruz",
        "Ausman", "Smith", "Nelson", "Lee", "Núñez", "Müller", "Françoise"]
ADJ = ["Bush", "Hon", "Eldon", "Newell", "Avery", "Xerox", "Fellowes",
       "Global", "Acco", "Wilson", "Tenex", "Advantus", "Logitech", "Cisco"]
NOUN = ["Bookcase", "Chair", "Label", "Table", "Binder", "Phone", "Stapler",
        "Envelope", "Organizer", "Lamp", "Paper", "Shelf", "Cart", "Desk"]

FIRST_ORDER = datetime.date(2014, 1, 1)
ORDER_SPAN_DAYS = 4 * 365
AS_OF_DAY0 = datetime.date(2024, 1, 1)


def _mdy(d):
    return f"{d.month}/{d.day}/{d.year}"


class _Keys:
    """Per-key tracked attributes that evolve day by day."""

    def __init__(self):
        self.ids = []       # natural key strings
        self.attrs = []     # current tracked attributes, one list per key


def _cust_name(rng):
    return f"{FIRST[rng.integers(len(FIRST))]} {LAST[rng.integers(len(LAST))]}"


def _prod_name(rng, i):
    return (f"{ADJ[rng.integers(len(ADJ))]} {NOUN[rng.integers(len(NOUN))]} "
            f"{i % 997}")


def _new_customers(rng, keys, n):
    for _ in range(n):
        i = len(keys.ids)
        keys.ids.append(f"{chr(65 + i % 26)}{chr(65 + (i // 26) % 26)}-{10000 + i}")
        # [name, segment]
        keys.attrs.append([_cust_name(rng), SEGMENTS[rng.integers(3)]])


def _new_products(rng, keys, n):
    for _ in range(n):
        i = len(keys.ids)
        fam = FAMILIES[i % 3]
        keys.ids.append(f"{fam}-{fam[:1]}{chr(65 + i % 26)}-{10000000 + i}")
        names = [_prod_name(rng, i)]
        # about 2% of product ids carry a second name in the same extract
        if rng.random() < 0.02:
            names.append(_prod_name(rng, i + 1))
        # [names, category shown on the rows that carry one]
        keys.attrs.append([names, CATEGORIES[rng.integers(3)]])


def _new_rows(rng, n, n_cust, n_prod, first_order_no):
    """Row-level choices that stay fixed across re-extracts."""
    order_no = first_order_no + np.arange(n) // 2
    return {
        "order_no": order_no,
        "order_day": rng.integers(0, ORDER_SPAN_DAYS, n),
        "ship_lag": rng.integers(0, 8, n),
        "ship_mode": rng.integers(0, 4, n),
        "cust": rng.integers(0, n_cust, n),
        "prod": rng.integers(0, n_prod, n),
        "name_pick": rng.integers(0, 2, n),
        "has_cat": rng.random(n) < 0.10,
        "geo": rng.integers(0, len(GEO), n),
        "sub": rng.integers(0, len(SUB_CATEGORIES), n),
        "sales_c": rng.integers(100, 500000, n),
        "qty": rng.integers(1, 15, n),
        "disc": rng.integers(0, 6, n),
        "profit_frac": rng.integers(-50, 51, n),
    }


def _concat(a, b):
    return {k: np.concatenate([a[k], b[k]]) for k in a}


DISCOUNTS = ["0", "0.1", "0.2", "0.3", "0.5", "0.8"]


def _effective(names, cats_seen):
    """The (name, category) tuple an in-batch dedup keeps for a product:
    the smallest tracked tuple, nulls first."""
    tuples = set()
    for nm, cat in cats_seen:
        tuples.add((names[nm], cat))
    return min(tuples, key=lambda t: (t[0], t[1] is not None, t[1] or ""))


def write_retail(out_dir, seed, rows, days=4):
    """Write ``day<k>.csv`` for k in 0..days-1 plus ``oracle.json``.

    Returns the oracle dict (also written to disk)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    cust, prod = _Keys(), _Keys()
    _new_customers(rng, cust, max(10, rows // 10))
    _new_products(rng, prod, max(10, rows // 50))
    r = _new_rows(rng, rows, len(cust.ids), len(prod.ids), 100000)
    oracle = {"seed": seed, "days": []}
    prev_eff_c, prev_eff_p = {}, {}
    for day in range(days):
        if day > 0:
            # about 2% of existing keys change a tracked attribute
            for i in rng.choice(len(cust.ids), max(1, len(cust.ids) // 50),
                                replace=False):
                if rng.random() < 0.5:
                    cust.attrs[i][0] = cust.attrs[i][0] + " Jr"
                else:
                    cust.attrs[i][1] = SEGMENTS[(SEGMENTS.index(cust.attrs[i][1]) + 1) % 3]
            for i in rng.choice(len(prod.ids), max(1, len(prod.ids) // 50),
                                replace=False):
                prod.attrs[i][0] = [n + " v2" for n in prod.attrs[i][0]]
            # about 1% new keys, with about 1% new rows that use them
            n_c0, n_p0 = len(cust.ids), len(prod.ids)
            _new_customers(rng, cust, max(1, n_c0 // 100))
            _new_products(rng, prod, max(1, n_p0 // 100))
            n_new = max(2, rows // 100)
            add = _new_rows(rng, n_new, len(cust.ids), len(prod.ids),
                            int(r["order_no"][-1]) + 1)
            # new rows point at new keys half of the time
            half = np.arange(n_new) % 2 == 0
            add["cust"][half] = rng.integers(n_c0, len(cust.ids), half.sum())
            add["prod"][half] = rng.integers(n_p0, len(prod.ids), half.sum())
            r = _concat(r, add)
        oracle["days"].append(_write_day(out_dir, day, r, cust, prod,
                                         prev_eff_c, prev_eff_p))
        prev_eff_c = oracle["days"][-1].pop("_eff_c")
        prev_eff_p = oracle["days"][-1].pop("_eff_p")
    oracle["expired_versions"] = sum(d["changed_keys"] for d in oracle["days"])
    with open(os.path.join(out_dir, "oracle.json"), "w") as f:
        json.dump(oracle, f, sort_keys=True)
    return oracle


def _write_day(out_dir, day, r, cust, prod, prev_eff_c, prev_eff_p):
    n = len(r["order_no"])
    lines = [HEADER]
    seen_c, seen_p = {}, {}
    cube = {}
    for k in range(n):
        c, p = int(r["cust"][k]), int(r["prod"][k])
        names, cat = prod.attrs[p]
        nm = int(r["name_pick"][k]) % len(names)
        row_cat = cat if r["has_cat"][k] else None
        seen_c[c] = True
        seen_p.setdefault(p, set()).add((nm, row_cat))
        od = FIRST_ORDER + datetime.timedelta(days=int(r["order_day"][k]))
        sd = od + datetime.timedelta(days=int(r["ship_lag"][k]))
        city, state, postal, region = GEO[int(r["geo"][k])]
        sales_c = int(r["sales_c"][k])
        profit_c = sales_c * int(r["profit_frac"][k]) // 100
        order_id = f"{['CA', 'US'][int(r['order_no'][k]) % 2]}-{od.year}-{int(r['order_no'][k])}"
        lines.append(",".join([
            str(k + 1), order_id, _mdy(od), _mdy(sd),
            SHIP_MODES[int(r["ship_mode"][k])], cust.ids[c],
            cust.attrs[c][0], cust.attrs[c][1], "United States", city, state,
            postal, region, prod.ids[p], row_cat or "",
            SUB_CATEGORIES[int(r["sub"][k])], names[nm],
            _cents(sales_c), str(int(r["qty"][k])),
            DISCOUNTS[int(r["disc"][k])], _cents(profit_c)]))
        key = (c, p, od.year)
        agg = cube.setdefault(key, [0, 0, 0])
        agg[0] += sales_c
        agg[1] += profit_c
        agg[2] += 1
    path = os.path.join(out_dir, f"day{day}.csv")
    with open(path, "wb") as f:
        f.write(("\n".join(lines) + "\n").encode("latin1"))
    eff_c = {cust.ids[c]: tuple(cust.attrs[c]) for c in seen_c}
    eff_p = {prod.ids[p]: _effective(prod.attrs[p][0], s)
             for p, s in seen_p.items()}
    # the dashboard sees each row through its key's current version
    by_slice = {}
    for (c, p, yr), (s_c, p_c, cnt) in cube.items():
        seg = eff_c[cust.ids[c]][1]
        cat = eff_p[prod.ids[p]][1] or DEFAULT_CATEGORY
        agg = by_slice.setdefault(f"{seg}|{cat}|{yr}", [0, 0, 0])
        agg[0] += s_c
        agg[1] += p_c
        agg[2] += cnt
    changed = (sum(1 for k, v in eff_c.items() if k in prev_eff_c and prev_eff_c[k] != v)
               + sum(1 for k, v in eff_p.items() if k in prev_eff_p and prev_eff_p[k] != v))
    return {
        "day": day,
        "as_of": str(AS_OF_DAY0 + datetime.timedelta(days=day)),
        "csv": path,
        "rows": n,
        "bytes": os.path.getsize(path),
        "customers": len(eff_c),
        "products": len(eff_p),
        "changed_keys": changed if day > 0 else 0,
        "slices": by_slice,
        "_eff_c": eff_c,
        "_eff_p": eff_p,
    }


def _cents(c):
    sign = "-" if c < 0 else ""
    c = abs(c)
    return f"{sign}{c // 100}.{c % 100:02d}"


# ------------------------------------------------------- catalog tables

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]


def write_catalog_tables(out_dir, sf, seed=42):
    """TPC-H-ish tables at scale factor ``sf`` (sf0.001: 6,000 lineitems)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    ts = pa.timestamp("us")
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = max(15, int(15000 * sf))
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist()})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    put("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)],
                                              noun[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", 2405, n_ord), type=ts),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)].tolist()})
    flags = np.array([("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")])
    fl = flags[rng.integers(0, 6, n_li)]
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": fl[:, 0].tolist(),
        "l_linestatus": fl[:, 1].tolist(),
        "l_shipdate": pa.array(days("1995-01-02", 2499, n_li), type=ts)})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 1000000, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), type=ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)].tolist(),
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = []
    for _ in range(n_doc):
        target = int(rng.integers(48, 554))
        ws, size = [], -1
        while size < target:
            w = words[rng.integers(0, len(words))]
            ws.append(w)
            size += len(w) + 1
        texts.append(" ".join(ws))
    langs = np.array(["de", "en", "en", "es", "fr", "zh"])
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": langs[rng.integers(0, 6, n_doc)].tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
