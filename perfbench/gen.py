"""Seeded input generators for the benchmark.

Two families, both deterministic in the seed:

* ``tables(dir, sf, seed)`` writes the ten TPC-H-like parquet tables the
  engine's query keys read (``region nation customer supplier part orders
  lineitem events documents embeddings``), with the same schemas and value
  domains as the project's reference testdata at scale factor ``sf``.
* ``orders_csv(dir, rows, seed)`` writes the dirty orders/products CSV pair
  of the paper's ETL job, with the dirt described in FIXTURES.md section A:
  duplicate ``(order_source_id, product_id)`` pairs, comma-decimal sums,
  letters mixed into product ids, HTML entities and junk names.

Both return a small dict describing what they generated (rows, bytes, dirt
rates); the ETL one also returns the distinct-pair count the output must
have.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000


def _epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _write(dirname, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(dirname, f"{name}.parquet"))
    return table.num_rows


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data join vector customer the").split()
ADJ = "large hot blue old cold red small green".split()
NOUN = "ring bolt plate gear widget rod anvil spring".split()


def tables(dirname, sf, seed):
    """Write the ten parquet tables at scale factor ``sf``."""
    os.makedirs(dirname, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(20, int(20_000 * sf))
    rows = {}
    rows["region"] = _write(dirname, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    rows["nation"] = _write(dirname, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    rows["customer"] = _write(dirname, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    rows["supplier"] = _write(dirname, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    rows["part"] = _write(dirname, "part", {
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    d0, d1 = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    days = (d1 - d0) // DAY_US
    rows["orders"] = _write(dirname, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(d0 + rng.integers(0, days + 1, n_ord) * DAY_US),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    s0 = _epoch_us(1995, 1, 2)
    sdays = (_epoch_us(2001, 11, 4) - s0) // DAY_US
    rows["lineitem"] = _write(dirname, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(s0 + rng.integers(0, sdays + 1, n_line) * DAY_US)})
    e0 = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + e0
    rows["events"] = _write(dirname, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev).clip(0, 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if texts and r < 0.03:    # exact re-post of an earlier document
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.08:  # near duplicate: one word swapped
            toks = texts[int(rng.integers(0, len(texts)))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(8, 96)))))
    rows["documents"] = _write(dirname, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[
            rng.integers(0, 5, n_doc)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows["embeddings"] = _write(dirname, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    size = sum(os.path.getsize(os.path.join(dirname, f))
               for f in os.listdir(dirname))
    return {"sf": sf, "rows": rows, "bytes": size}


GROUPS = ["Дитячі машинки", "Конструктори", "Ляльки", "Пазли", "М'які іграшки",
          "Настільні ігри", "Розвиваючі іграшки", "Книги", "Канцтовари",
          "Спорт", "Творчість", "Транспорт", "Зброя іграшкова"]
FIRST = ["олена", "іван", "марія", "петро", "мар&#039;яна", "в&#039;ячеслав",
         "Olena", "Ivan", "anna", "taras", "оксана", "юрій", "natalia",
         "андрій", "іванова-шипак", "kateryna"]
JUNK = ["-", "я", "m", "с", "ddd", "кіт", "bcd", "аа", " олег", "o2lga"]
STATUS = ["Accepted", "Failed", "Paid", "Waiting_Accepted"]


def _names(rng, n, p_junk):
    real = np.array(FIRST)[rng.integers(0, len(FIRST), n)]
    junk = np.array(JUNK)[rng.integers(0, len(JUNK), n)]
    return np.where(rng.random(n) < p_junk, junk, real)


def orders_csv(dirname, rows, seed):
    """Write ``orders.csv`` and ``products.csv``; return the dirt report."""
    os.makedirs(dirname, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_prod = max(100, rows // 500)
    prod_ids = rng.choice(np.arange(100_000, 1_000_000), n_prod, replace=False)
    prices = _money(rng, 5.0, 5000.0, n_prod)
    mfrs = [f"manufacturer_{k}" for k in range(418)]
    ppath = os.path.join(dirname, "products.csv")
    with open(ppath, "w", encoding="utf-8") as f:
        f.write("product_id,price,goods_group,manufacturer\n")
        for pid, price in zip(prod_ids, prices):
            f.write(f"{pid},{price:.2f},{GROUPS[int(rng.integers(0, 13))]},"
                    f"{mfrs[int(rng.integers(0, 418))]}\n")
    # 60% fresh (order, product) pairs; 40% repeat an earlier pair
    n_fresh = rows - int(rows * 0.4)
    order_ids = rng.integers(10_000_000, 99_999_999, n_fresh)
    # 2% of orders point at products missing from the catalogue
    pick = rng.integers(0, n_prod, n_fresh)
    pair_prod = np.where(rng.random(n_fresh) < 0.02,
                         rng.integers(1_000_000, 1_100_000, n_fresh),
                         prod_ids[pick])
    src = np.concatenate([np.arange(n_fresh),
                          rng.integers(0, n_fresh, rows - n_fresh)])
    # shuffled, so which copy of a repeated pair comes first (the one
    # keep-first dedup keeps) is left to chance, as with real re-deliveries
    rng.shuffle(src[1:])
    keys = order_ids[src].astype(np.int64) * 10_000_000 + pair_prod[src]
    distinct = int(np.unique(keys).size)
    t0 = _epoch_us(2019, 1, 1) // 1_000_000
    secs = t0 + rng.integers(0, 365 * 86_400, rows)
    stamps = np.datetime_as_string(secs.astype("datetime64[s]"), unit="s")
    comma = rng.random(rows) < 0.05
    lettered = rng.random(rows) < 0.08
    letters = "abcdefghijklmnopqrstuvwxyz"
    sums = rng.uniform(10.0, 20000.0, rows)
    sum_txt = np.char.mod("%.2f", sums)
    sum_txt = np.where(comma, np.char.add(np.char.add(
        '"', np.char.replace(sum_txt, ".", ",")), '"'), sum_txt)
    pids = pair_prod[src].astype(str).astype(object)
    for i in np.flatnonzero(lettered):
        p = pids[i]
        k = int(rng.integers(0, len(p) + 1))
        pids[i] = p[:k] + letters[int(rng.integers(0, 26))] + p[k:]
    cust = rng.integers(1, 500_000, rows)
    status = np.array(STATUS)[rng.integers(0, 4, rows)]
    qty = rng.integers(1, 20, rows)
    name, surname = _names(rng, rows, 0.1), _names(rng, rows, 0.1)
    patronymic = _names(rng, rows, 0.2)
    oids = order_ids[src]
    opath = os.path.join(dirname, "orders.csv")
    with open(opath, "w", encoding="utf-8") as f:
        f.write(",order_source_id,order_created_datetime,customer_id,status,"
                "sum,quantity,name,surname,patronymic,product_id\n")
        f.writelines(
            f"{i},{oids[i]},{stamps[i]},{cust[i]},{status[i]},{sum_txt[i]},"
            f"{qty[i]},{name[i]},{surname[i]},{patronymic[i]},{pids[i]}\n"
            for i in range(rows))
    return {"orders_rows": rows, "products_rows": n_prod,
            "distinct_pairs": distinct,
            "orders_bytes": os.path.getsize(opath),
            "products_bytes": os.path.getsize(ppath),
            "dup_pair_rate": round(1 - distinct / rows, 4),
            "comma_sum_rate": round(float(comma.mean()), 4),
            "lettered_id_rate": round(float(lettered.mean()), 4),
            "product_ids": [int(p) for p in prod_ids]}


def lookups(product_ids, n, seed):
    """``n`` seeded similarity lookups: a target and 12 candidates each."""
    rnd = random.Random(seed)
    return [(rnd.choice(product_ids), sorted(rnd.sample(product_ids, 12)))
            for _ in range(n)]


def stream_feed(dirname, events, seed):
    """Write the streaming workload's feed as ``events.parquet``: events over
    two days, 3% of them delivered twice (same id, same content), and one
    closing event a day after the rest, on user -1, whose watermark closes
    every other user's session. The harness replays the feed in
    ``(ts, event_id)`` order, so each copy arrives next to its original.
    """
    os.makedirs(dirname, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n_users = max(15, events // 60)
    e0 = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(0, 2 * DAY_US, events)) + e0
    cols = {
        "event_id": np.arange(events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, events).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, events)],
        "value": np.round(rng.exponential(60.0, events).clip(0, 560.0), 2),
        "props": np.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, events)])}
    dup = np.flatnonzero(rng.random(events) < 0.03)
    end = {"event_id": [events], "ts": [ts[-1] + DAY_US], "user_id": [-1],
           "event_type": ["view"], "value": [1.0], "props": ['{"k": 0}']}
    feed = {k: np.concatenate([v, v[dup], np.array(end[k], dtype=v.dtype)])
            for k, v in cols.items()}
    feed["ts"] = _ts(feed["ts"])
    n = _write(dirname, "events", feed)
    return {"feed_rows": n, "redelivered": int(dup.size), "users": n_users}
