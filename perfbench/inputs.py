"""Seeded inputs for the benchmark: parquet tables and operation scripts.

Everything here is a pure function of the seed. The tables follow the
shape of the engine's TPC-H-like corpus (same column names, types and
value domains), so the declared queries and their DuckDB oracles run
over them unchanged. The operation scripts are plain TSV, one operation
per line, and are what the JVM driver replays; each workload has a
timed script and a short warm-up script that reaches every operation
type.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale of the generated corpus: sf0.01 rows (lineitem ~60,000).
SF = 0.01
N_CUST, N_SUPP, N_PART = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
N_ORD, N_LINE = int(1_500_000 * SF), int(6_000_000 * SF)
N_EV, N_DOC = int(1_000_000 * SF), int(50_000 * SF)

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# query_catalog: declared queries with a DuckDB oracle, none of them a
# lake scenario, each tagged with the family whose code dominates it
# ("functions" = a graft.functions kernel carries the hot loop).
QUERIES = [
    ("q_filter_in", "rel"), ("q_agg_pricing_summary", "rel"),
    ("q_tpch_q3_shipping_priority", "rel"), ("q_join_semi", "rel"),
    ("q_window_running_sum", "rel"), ("q_agg_grouping_sets", "rel"),
    ("q_sim_topk_brute", "functions"), ("q_sim_topk_hamming", "functions"),
    ("q_func_ngrams_native", "functions"),
    ("q_text_stats", "llm"), ("q_pipe_quantiles", "llm"),
    ("q_text_quality", "llm"),
]

# lake_churn: the table writes one position-delete file per
# DELETE_FILE_ROWS rows of candidate data (the base is one 60,000-row
# file, so 8 files per delete), and every delete removes an order with
# at least 8 lines. PRE_DELETES deletes bring the table to exactly 64
# delete files, the size of GraftTable's position-delete cache; the
# closing delete takes it past 64 and POST_LOOKUPS lookups follow. The
# first of them still finds 64 of the 72 files cached; the others find
# none, and they outnumber the 3 fast lookups, so the median lookup lies
# past the crossing.
DELETE_FILE_ROWS = 7500
PRE_DELETES = 8
POST_LOOKUPS = 5
CHURN_APPEND_ORDERS = 25

# erase_sql: ERASE_ROUNDS passes over (mor, cow) x (delete, update), each
# request preceded by an INSERT batch and subject-access SELECTs.
ERASE_ROUNDS = 1
ERASE_INSERT_ORDERS = 40


def _ts(days_from_epoch):
    return pa.array(np.asarray(days_from_epoch, dtype="int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _lineitem(rng, orderkeys):
    n = len(orderkeys)
    qty = rng.integers(1, 51, n).astype("float64")
    return {
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(9131 + rng.integers(0, 2500, n)),
    }


def _orders(rng):
    return {
        "o_orderkey": pa.array(range(N_ORD), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORD),
        "o_totalprice": _money(rng, 1000, 500_000, N_ORD),
        "o_orderdate": _ts(9131 + rng.integers(0, 2400, N_ORD)),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORD)}


def _customer_name(c):
    return f"Customer#{c:09d}"


def gen_corpus(out, rng):
    """The ten corpus tables the declared queries read."""
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(range(N_CUST), pa.int64()),
        "c_name": [_customer_name(i) for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUST),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], N_CUST)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(range(N_SUPP), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPP)})
    adj = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10.0, 1)})
    _write(f"{out}/orders.parquet", _orders(rng))
    _write(f"{out}/lineitem.parquet",
           _lineitem(rng, rng.integers(0, N_ORD, N_LINE)))
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EV)) \
        + 19723 * 86_400_000_000
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(range(N_EV), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, N_EV), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], N_EV),
        "value": _money(rng, 0.01, 490.0, N_EV),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EV)]})
    texts = [" ".join(rng.choice(WORDS, n)) for n in rng.integers(8, 90, N_DOC)]
    for i in range(0, N_DOC, 20):  # near-duplicates for the dedup family
        texts[i + 1] = texts[i] + " dup"
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(range(N_DOC), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOC),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOC)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, N_DOC)
    emb = centroids[labels] + rng.normal(scale=0.8, size=(N_DOC, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(range(N_DOC), pa.int64()),
        "embedding": pa.array(list(emb.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def gen_churn(out, rng):
    """lineitem (the base) and an append pool of fresh orders above the
    base key range, sorted by key so each append is one key range."""
    line_keys = rng.integers(0, N_ORD, N_LINE)
    _write(f"{out}/lineitem.parquet", _lineitem(rng, line_keys))
    pool = np.repeat(np.arange(N_ORD, N_ORD + 4 * CHURN_APPEND_ORDERS), 4)
    _write(f"{out}/churn_pool.parquet", _lineitem(rng, pool))
    return line_keys


def gen_pii(out, rng):
    """pii_base (orders with the customer's name) and an insert pool of
    later orders. Pool orders belong to customers in the upper half of
    the key range and erase subjects come from the lower half, so no
    insert brings an erased subject back."""
    orders = _orders(rng)
    custs = np.asarray(orders["o_custkey"])
    _write(f"{out}/pii_base.parquet", {
        "o_orderkey": orders["o_orderkey"], "o_custkey": orders["o_custkey"],
        "c_name": [_customer_name(c) for c in custs],
        "o_totalprice": orders["o_totalprice"],
        "o_orderdate": orders["o_orderdate"],
        "o_orderpriority": orders["o_orderpriority"]})
    n = (ERASE_ROUNDS + 1) * 4 * ERASE_INSERT_ORDERS
    pool_c = rng.integers(N_CUST // 2, N_CUST, n)
    _write(f"{out}/pii_pool.parquet", {
        "o_orderkey": pa.array(np.arange(N_ORD, N_ORD + n), pa.int64()),
        "o_custkey": pa.array(pool_c, pa.int64()),
        "c_name": [_customer_name(c) for c in pool_c],
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _ts(9131 + rng.integers(0, 2400, n)),
        "o_orderpriority": rng.choice(PRIORITIES, n)})
    return custs


def query_scripts():
    ops = [("query", q, fam) for q, fam in QUERIES]
    return ops, ops


def churn_scripts(rng, line_keys):
    """Timed script: an append and PRE_DELETES merge-on-read point deletes
    (the table reaches 64 delete files) with two key lookups among them, a
    full aggregate, time travel to the first append, a copy-on-write
    update and a metadata-table read; then an append and the delete that
    takes the table past 64 delete files, followed by POST_LOOKUPS
    lookups, a full aggregate, time travel to that delete and a
    metadata-table read. Every read after the crossing applies all delete
    files, so each one walks the whole set. The seed picks the keys only;
    the sequence of operation types and time-travel targets is fixed.
    Updates target appended orders only, so they never rewrite the base
    file the deletes point into."""
    keys, counts = np.unique(line_keys, return_counts=True)
    victims = iter(int(k) for k in rng.permutation(keys[counts >= 8]))
    live = iter(int(k) for k in rng.permutation(keys[counts < 8]))
    ops = [("append", N_ORD, N_ORD + CHURN_APPEND_ORDERS)]
    for d in range(PRE_DELETES):
        k = next(victims)
        ops.append(("delete", k))
        if d == 2:
            ops.append(("lookup", next(live)))
        elif d == 5:
            ops.append(("lookup", k))  # a key that is gone
    ops += [("scan",), ("travel", 0),
            ("update", int(rng.integers(N_ORD, N_ORD + CHURN_APPEND_ORDERS))),
            ("meta", "snapshots"),
            ("append", N_ORD + CHURN_APPEND_ORDERS, N_ORD + 2 * CHURN_APPEND_ORDERS),
            ("delete", next(victims))]
    crossing = len(ops) - 1
    ops += [("lookup", next(live)) for _ in range(POST_LOOKUPS)]
    ops += [("scan",), ("travel", crossing), ("meta", "history")]

    lo = N_ORD + 2 * CHURN_APPEND_ORDERS
    warm = [("append", lo, lo + CHURN_APPEND_ORDERS), ("delete", next(victims)),
            ("lookup", next(live)), ("travel", 0), ("update", lo)]
    return ops, warm


def erase_scripts(rng, base_custkeys):
    """Timed script: ERASE_ROUNDS passes over both tables and both erase
    modes; each request is an INSERT batch, a SELECT of the subject and
    of another customer, the permanent erase, and a SELECT of the
    subject afterwards. The warm-up script is one such request, a MOR
    delete."""
    present = np.unique(base_custkeys[base_custkeys < N_CUST // 2])
    subjects = iter(int(s) for s in rng.permutation(present))
    pool = iter(range(N_ORD, N_ORD + 10 ** 6, ERASE_INSERT_ORDERS))

    def requests(n_rounds):
        ops = []
        for _ in range(n_rounds):
            for table in ("mor", "cow"):
                for mode in ("delete", "update"):
                    lo = next(pool)
                    s = next(subjects)
                    ops += [("insert", table, lo, lo + ERASE_INSERT_ORDERS),
                            ("select", table, s),
                            ("select", table, int(rng.choice(present))),
                            ("erase", table, mode, s, _customer_name(s)),
                            ("select", table, s)]
        return ops

    return requests(ERASE_ROUNDS), requests(1)[:5]


def make(workload, seed, out):
    """Write the workload's tables into `out`; return (timed script,
    warm-up script)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "query_catalog":
        gen_corpus(out, rng)
        return query_scripts()
    if workload == "lake_churn":
        return churn_scripts(rng, gen_churn(out, rng))
    return erase_scripts(rng, gen_pii(out, rng))


def write_script(path, ops):
    with open(path, "w") as f:
        for op in ops:
            f.write("\t".join(str(x) for x in op) + "\n")
