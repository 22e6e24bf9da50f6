"""Seeded input generation for the two workloads.

Everything a run feeds graft is made here from ``--seed``: for ``warehouse``
the TPC-H-shaped tables, the analytics op sequence with its drawn parameters
and the ingest batches; for ``operators`` the near-duplicate corpus and the
trade graph. The same seed writes byte-identical files.

``manifest.json`` in the input directory tells the JVM what to run; the
checks re-derive their expectations from the same manifest and parquet files.
"""
import datetime as dt
import json
import os

import duckdb
import numpy as np
import pandas as pd

# warehouse sizes: sf0.1 for the trade graph; the warehouse workload uses
# sf0.02, where ops are still dominated by fixed per-query cost and a run fits
# the run budget
SF01 = dict(customer=15000, supplier=1000, part=20000, orders=150000)
SF002 = dict(customer=3000, supplier=200, part=4000, orders=30000)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPE_A = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPE_B = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPE_C = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
EPOCH = dt.date(1992, 1, 1)
ORDER_DAYS = (dt.date(1998, 8, 2) - EPOCH).days
CUTOFF = (dt.date(1995, 6, 17) - EPOCH).days

# dedup corpus: docs grouped into near-duplicate families
DEDUP_DOCS = 500
DEDUP_GROUP_MAX = 8          # group size is drawn from 1..8 per group
# graph: share of distinct (customer, supplier) trade pairs kept
GRAPH_EDGE_SHARE = 0.01
# graph: fixed round counts, so every seed runs the same number of rounds
GRAPH_ROUNDS = dict(rank_iters=2, kcore_k=3, kcore_max_iters=2)
# ingest: batches per run and their drawn properties
INGEST_BATCHES = 9          # the priming batch and four timed passes
INGEST_BATCH_ROWS = (1000, 3000)
INGEST_UPDATE_SHARE = (0.2, 0.8)
INGEST_COMPACT_EVERY = 2    # batches per timed pass; maintenance ends each pass
INGEST_VACUUM_KEEP = 3


def day(d):
    return (EPOCH + dt.timedelta(days=int(d))).isoformat()


def _copy(con, df, path, select):
    if con is None:
        return
    con.register("src_df", df)
    con.execute(f"COPY (SELECT {select} FROM src_df) TO '{path}' (FORMAT PARQUET)")
    con.unregister("src_df")


def _money(col):
    return f"({col} / 100.0)::DECIMAL(12,2) AS {col}"


ORDERS_SELECT = (
    "o_orderkey, o_custkey, o_orderstatus, "
    f"{_money('o_totalprice')}, DATE '1992-01-01' + odate::INTEGER AS o_orderdate, "
    "o_orderpriority")


def write_tables(con, out, rng, sizes):
    """TPC-H-shaped tables; money columns are exact DECIMAL(12,2).

    With ``con=None`` nothing is written, but the same draws are made, so
    the orders and lineitem arrays returned are the ones a write would hold.
    """
    if con is not None:
        os.makedirs(out, exist_ok=True)
    _copy(con, pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                             "r_name": REGIONS}),
          f"{out}/region.parquet", "*")
    _copy(con, pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": np.array([r for _, r in NATIONS], dtype=np.int32)}),
        f"{out}/nation.parquet", "*")

    ns = sizes["supplier"]
    _copy(con, pd.DataFrame({
        "s_suppkey": np.arange(1, ns + 1, dtype=np.int64),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": rng.integers(-99999, 999999, ns)}),
        f"{out}/supplier.parquet",
        "s_suppkey, 'Supplier#' || lpad(s_suppkey::VARCHAR, 9, '0') AS s_name, "
        f"s_nationkey, {_money('s_acctbal')}")

    nc = sizes["customer"]
    cust = pd.DataFrame({
        "c_custkey": np.arange(1, nc + 1, dtype=np.int64),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": rng.integers(-99999, 999999, nc),
        "bal_null": rng.random(nc) < 0.03})
    seg = np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, nc)]
    seg[rng.random(nc) < 0.02] = None
    cust["c_mktsegment"] = seg
    _copy(con, cust, f"{out}/customer.parquet",
          "c_custkey, 'Customer#' || lpad(c_custkey::VARCHAR, 9, '0') AS c_name, "
          "c_nationkey, CASE WHEN bal_null THEN NULL ELSE "
          "(c_acctbal / 100.0)::DECIMAL(12,2) END AS c_acctbal, c_mktsegment")

    npart = sizes["part"]
    ptype = np.array([f"{a} {b} {c}" for a in TYPE_A for b in TYPE_B for c in TYPE_C])
    retail = 90000 + (np.arange(1, npart + 1) // 10) % 20001 + 100 * (np.arange(1, npart + 1) % 1000)
    part = pd.DataFrame({
        "p_partkey": np.arange(1, npart + 1, dtype=np.int64),
        "p_type": ptype[rng.integers(0, len(ptype), npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": retail})
    _copy(con, part, f"{out}/part.parquet",
          "p_partkey, 'part ' || p_partkey::VARCHAR AS p_name, "
          "'Brand#' || (1 + p_partkey % 5)::VARCHAR || (1 + p_partkey % 7)::VARCHAR AS p_brand, "
          f"p_type, p_size, {_money('p_retailprice')}")

    no = sizes["orders"]
    # two thirds of customers place orders, as in TPC-H
    buyers = np.arange(1, nc + 1)[np.arange(1, nc + 1) % 3 != 0]
    odate = rng.integers(0, ORDER_DAYS - 151, no)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(1, no + 1, dtype=np.int64),
        "o_custkey": buyers[rng.integers(0, len(buyers), no)].astype(np.int64),
        "o_totalprice": rng.integers(100000, 50000000, no),
        "odate": odate,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    orders["o_orderstatus"] = np.where(odate + 121 < CUTOFF, "F",
                                       np.where(odate > CUTOFF, "O", "P"))
    _copy(con, orders, f"{out}/orders.parquet", ORDERS_SELECT)

    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(1, no + 1, dtype=np.int64), lines)
    n = len(okey)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n)
    receipt = ship + rng.integers(1, 31, n)
    pkey = rng.integers(1, npart + 1, n)
    qty = rng.integers(1, 51, n)
    li = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": pkey.astype(np.int64),
        "l_suppkey": rng.integers(1, ns + 1, n).astype(np.int64),
        "l_linenumber": (np.arange(n) - start + 1).astype(np.int32),
        "l_quantity": qty * 100,
        "l_extendedprice": qty * retail[pkey - 1],
        "l_discount": rng.integers(0, 11, n),
        "l_tax": rng.integers(0, 9, n),
        "l_returnflag": np.where(receipt <= CUTOFF,
                                 np.where(rng.random(n) < 0.5, "R", "A"), "N"),
        "l_linestatus": np.where(ship > CUTOFF, "O", "F"),
        "ship": ship, "receipt": receipt})
    _copy(con, li, f"{out}/lineitem.parquet",
          "l_orderkey, l_partkey, l_suppkey, l_linenumber, "
          f"{_money('l_quantity')}, {_money('l_extendedprice')}, "
          "(l_discount / 100.0)::DECIMAL(12,2) AS l_discount, "
          "(l_tax / 100.0)::DECIMAL(12,2) AS l_tax, l_returnflag, l_linestatus, "
          "DATE '1992-01-01' + ship::INTEGER AS l_shipdate, "
          "DATE '1992-01-01' + receipt::INTEGER AS l_receiptdate")
    return {"orders": orders, "lineitem": li[["l_orderkey", "l_suppkey"]]}


# ---------------------------------------------------------------- analytics

def _window(rng, lo_days, hi_days):
    """A seeded [start, end) date window whose length is drawn too."""
    length = int(rng.integers(lo_days, hi_days + 1))
    start = int(rng.integers(0, ORDER_DAYS - length))
    return day(start), day(start + length)


def analytics_ops(rng):
    """One pass: every template once, parameters drawn from the seed. The 8
    templates keep one op per plan shape of the Fugue contract: pushdown
    load, scan-aggregate (q1), join-aggregate-top-k (q3), semi-join subquery
    (q18), an anti join, a set difference, sample(n) and take per group.

    Each op is ``{id, template, verb, ...params, oracle}``: the JVM runs the
    graft calls the template names, the check runs ``oracle`` in DuckDB.
    """
    ops = []

    def add(template, verb, oracle, **params):
        ops.append(dict(id=f"a{len(ops):02d}_{template}", template=template,
                        verb=verb, oracle=oracle, **params))

    def sql(name, tables, text):
        add(name, "relational.select", text, tables=tables, sql=text)

    # warehouse read with column and row-filter pushdown; the window length
    # and quantity cap set the selectivity
    d1, d2 = _window(rng, 30, 365)
    q = int(rng.integers(10, 51))
    cols = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate"]
    flt = f"l_shipdate >= DATE '{d1}' AND l_shipdate < DATE '{d2}' AND l_quantity <= {q}"
    add("load_filter", "warehouse.load",
        f"SELECT {', '.join(cols)} FROM lineitem WHERE {flt}",
        table="lineitem", columns=cols, filter=flt)

    rev = "sum(l_extendedprice * (1 - l_discount))"
    d = day(int(rng.integers(CUTOFF + 400, ORDER_DAYS)))
    sql("q1", ["lineitem"],
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        "sum(l_extendedprice) AS sum_base_price, "
        f"{rev} AS sum_disc_price, "
        "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
        "avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price, "
        "avg(l_discount) AS avg_disc, count(*) AS count_order "
        f"FROM lineitem WHERE l_shipdate <= DATE '{d}' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
    seg = SEGMENTS[int(rng.integers(0, 5))]
    d = day(int(rng.integers(CUTOFF - 120, CUTOFF + 120)))
    sql("q3", ["customer", "orders", "lineitem"],
        f"SELECT l_orderkey, {rev} AS revenue, o_orderdate, o_orderpriority "
        "FROM customer, orders, lineitem "
        f"WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey "
        f"AND l_orderkey = o_orderkey AND o_orderdate < DATE '{d}' "
        f"AND l_shipdate > DATE '{d}' "
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10")
    q = int(rng.integers(240, 271))
    sql("q18", ["customer", "orders", "lineitem"],
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, "
        "sum(l_quantity) AS sum_qty FROM customer, orders, lineitem "
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
        f"HAVING sum(l_quantity) > {q}) AND c_custkey = o_custkey "
        "AND o_orderkey = l_orderkey "
        "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
        "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100")

    # an anti join: orders in a seeded window against customers of a
    # seeded nation set, joined USING (custkey)
    d1, d2 = _window(rng, 20, 90)
    nations = sorted(int(x) for x in rng.choice(25, int(rng.integers(3, 9)), replace=False))
    of = f"o_orderdate >= DATE '{d1}' AND o_orderdate < DATE '{d2}'"
    cf = f"c_nationkey IN ({', '.join(map(str, nations))})"
    lsel = (f"(SELECT o_orderkey, o_custkey AS custkey, o_totalprice "
            f"FROM orders WHERE {of}) l")
    rsel = (f"(SELECT c_custkey AS custkey, c_nationkey, c_mktsegment "
            f"FROM customer WHERE {cf}) r")
    add("join_anti", "relational.join", f"SELECT * FROM {lsel} ANTI JOIN {rsel} USING (custkey)",
        how="anti", orders_filter=of, customer_filter=cf)

    def cust_window():
        d1, d2 = _window(rng, 60, 240)
        return f"o_orderdate >= DATE '{d1}' AND o_orderdate < DATE '{d2}'"

    fa, fb = cust_window(), cust_window()
    add("subtract", "relational.subtract",
        f"SELECT o_custkey, o_orderpriority FROM orders WHERE {fa} EXCEPT "
        f"SELECT o_custkey, o_orderpriority FROM orders WHERE {fb}",
        filter_a=fa, filter_b=fb)

    n = int(rng.integers(100, 5001))
    add("sample_n", "relational.sample",
        "SELECT o_orderkey, o_totalprice FROM orders",
        n=n, sample_seed=int(rng.integers(1, 2**31)))
    f = cust_window()
    n = int(rng.integers(1, 21))
    add("take", "relational.take",
        "SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice FROM ("
        "SELECT *, row_number() OVER (PARTITION BY o_orderpriority "
        "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders "
        f"WHERE {f}) WHERE rn <= {n}",
        n=n, filter=f)
    # a seeded order: the mix is fixed, the sequence is not
    return [ops[i] for i in rng.permutation(len(ops))]


# -------------------------------------------------------------------- dedup

def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(3, 10))
        words.add("".join(letters[rng.integers(0, 26, ln)]))
    return sorted(words)


def _edit_words(rng, words, vocab, edits):
    w = list(words)
    for _ in range(edits):
        kind = int(rng.integers(0, 3))
        pos = int(rng.integers(0, len(w)))
        if kind == 0:
            w[pos] = vocab[int(rng.integers(0, len(vocab)))]
        elif kind == 1:
            w.insert(pos, vocab[int(rng.integers(0, len(vocab)))])
        elif len(w) > 4:
            del w[pos]
    return w


def dedup_corpus(rng, n_docs):
    """Families of near-duplicates: a base doc plus seeded word edits.

    Group sizes are drawn from 1..DEDUP_GROUP_MAX, so the seed sets how much
    work documents share.
    """
    vocab = _vocab(rng, 20000)
    # Zipf-like word frequencies: hot grams exercise the prefix filters
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    rows = []
    group = 0
    while len(rows) < n_docs:
        size = min(int(rng.integers(1, DEDUP_GROUP_MAX + 1)), n_docs - len(rows))
        base = [vocab[i] for i in rng.choice(len(vocab), int(rng.integers(40, 81)), p=weights)]
        for v in range(size):
            words = base if v == 0 else _edit_words(rng, base, vocab, int(rng.integers(0, 7)))
            rows.append((len(rows) + 1, group, v, " ".join(words)))
        group += 1
    return pd.DataFrame(rows, columns=["doc_id", "grp", "variant", "text"])


# -------------------------------------------------------------------- graph

def trade_edges(rng, base, share):
    """Customer→supplier pairs of orders⋈lineitem, a seeded share of them,
    symmetrized so that no node dangles."""
    o, li = base["orders"], base["lineitem"]
    cust = o["o_custkey"].to_numpy()[li["l_orderkey"].to_numpy() - 1]
    code = np.unique(cust * 2**20 + li["l_suppkey"].to_numpy())
    code = code[rng.random(len(code)) < share]
    src, dst = code // 2**20, code % 2**20 + 1000000
    return pd.DataFrame({"src": np.concatenate([src, dst]).astype(np.int64),
                         "dst": np.concatenate([dst, src]).astype(np.int64)})


# ------------------------------------------------------------------- ingest

def ingest_batches(rng, orders, n_batches, rows_range):
    """Seeded batches of new and changed order rows.

    Each batch draws its size and its share of updates. Updates change the
    status and price of live keys; inserts take fresh keys. Keys are unique
    within a batch, as MERGE requires.
    """
    live = orders["o_orderkey"].to_numpy().copy()
    next_key = int(live.max()) + 1
    out = []
    size = 0
    for b in range(n_batches):
        # batch 0 alone is the priming pass; then the batches of one timed
        # pass add up to the same row count, so the seed moves how work is
        # split into batches, not how much work a pass has
        if b == 0 or (b - 1) % INGEST_COMPACT_EVERY == 0:
            size = int(rng.integers(rows_range[0], rows_range[1] + 1))
        else:
            size = rows_range[0] + rows_range[1] - size
        share = float(rng.uniform(*INGEST_UPDATE_SHARE))
        n_upd = int(round(size * share))
        upd = rng.choice(live, n_upd, replace=False)
        ins = np.arange(next_key, next_key + size - n_upd)
        next_key += size - n_upd
        live = np.concatenate([live, ins])
        keys = np.concatenate([upd, ins]).astype(np.int64)
        n = len(keys)
        out.append((pd.DataFrame({
            "o_orderkey": keys,
            "o_custkey": rng.integers(1, 15001, n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": rng.integers(100000, 50000000, n),
            "odate": rng.integers(0, ORDER_DAYS, n),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]}),
            dict(rows=n, updates=n_upd, inserts=n - n_upd,
                 key_lo=int(keys.min()), key_hi=int(keys.max()))))
    return out


def _write_batches(con, d, batches):
    os.makedirs(d, exist_ok=True)
    meta = []
    for i, (df, m) in enumerate(batches):
        _copy(con, df, f"{d}/batch_{i:03d}.parquet", ORDERS_SELECT)
        meta.append(dict(table=f"batch_{i:03d}", **m))
    return meta


# --------------------------------------------------------------------- main

def generate(workload, seed, out):
    """Write every input of ``workload`` under ``out``; returns the manifest."""
    rng = np.random.default_rng([seed, 7])
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    tables = f"{out}/tables"
    os.makedirs(tables, exist_ok=True)
    man = {"workload": workload, "seed": seed}
    if workload == "warehouse":
        base = write_tables(con, tables, rng, SF002)
        man["ops"] = analytics_ops(rng)
        # the ingest batches build on the orders table the analytics ops read
        man["batches"] = _write_batches(con, f"{out}/batches", ingest_batches(
            rng, base["orders"], INGEST_BATCHES, INGEST_BATCH_ROWS))
        man["compact_every"] = INGEST_COMPACT_EVERY
        man["vacuum_keep"] = INGEST_VACUUM_KEEP
    elif workload == "operators":
        # the trade graph only needs the order arrays, not the files
        base = write_tables(None, tables, rng, SF01)
        _copy(con, dedup_corpus(rng, DEDUP_DOCS), f"{tables}/docs.parquet", "*")
        man["docs"] = DEDUP_DOCS
        man["minhash_seed"] = int(rng.integers(1, 2**31))
        edges = trade_edges(rng, base, GRAPH_EDGE_SHARE)
        _copy(con, edges, f"{tables}/edges.parquet", "*")
        man.update(GRAPH_ROUNDS, edges=len(edges))
    else:
        raise ValueError(f"unknown workload {workload}")
    con.close()
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    return man
