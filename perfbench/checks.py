"""Correctness checks computed apart from the engine.

query_catalog: each result must equal DuckDB running the query's oracle
SQL over the same parquet, and every timed round must reproduce it.
lake_churn / erase_sql: a DuckDB model replays the workload's own
operation log over the source parquet; every observation the driver
made (aggregates, lookups, time travel, metadata rows, subject reads)
must equal the model at that point. erase_sql also checks the raw-file
scans around each permanent erase.

check() returns a list of problems; empty means correct.
"""
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a or 0.0), float(b or 0.0)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def check(workload, src, ops, warm, recs):
    """Round 0 replayed the warm-up script, later rounds the timed one."""
    obs = [r for r in recs if r["type"] == "obs"]
    problems = [f"round {r['round']} op {r['i']} {r['kind']} failed: {r['exc']}"
                for r in recs if r["type"] == "op" and not r["ok"]]
    if workload == "query_catalog":
        return problems + _queries(src, ops, obs)
    model = _churn if workload == "lake_churn" else _erase
    for script, rounds in ((warm, lambda r: r == 0), (ops, lambda r: r >= 1)):
        by_round = {}
        for o in obs:
            if rounds(o["round"]):
                by_round.setdefault(o["round"], {})[
                    (o["kind"], o["i"], o.get("when"))] = o
        problems += model(src, script, by_round)
    return problems


def _queries(src, ops, obs):
    problems = []
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}/{t}.parquet'")
    digests = {}
    for o in obs:
        if o["kind"] == "query":
            digests.setdefault(o["query"], set()).add((o["rows"], o["digest"]))
    for q, d in digests.items():
        if len(d) != 1:
            problems.append(f"{q}: results differ between rounds: {sorted(d)}")
    dump = os.path.join(os.path.dirname(src), "dump")
    oracles = {o["query"]: o["sql"] for o in obs if o["kind"] == "oracle"}
    for _, q, _ in ops:
        sql = oracles.get(q)
        if not sql:
            problems.append(f"{q}: no oracle SQL or no warm-up result")
            continue
        spark_rel = con.sql(f"SELECT * FROM '{dump}/{q}/*.parquet'")
        duck_rel = con.sql(sql)
        s_cols, d_cols = sorted(spark_rel.columns), sorted(duck_rel.columns)
        if s_cols != d_cols:
            problems.append(f"{q}: columns {s_cols} != oracle {d_cols}")
            continue
        s_rows = con.sql(f"SELECT {', '.join(s_cols)} FROM spark_rel").fetchall()
        d_rows = con.sql(f"SELECT {', '.join(d_cols)} FROM duck_rel").fetchall()
        if not s_rows:
            problems.append(f"{q}: empty result")
        if [tuple(map(_norm, r)) for r in s_rows] != \
                [tuple(map(_norm, r)) for r in d_rows]:
            problems.append(f"{q}: result differs from the DuckDB oracle "
                            f"({len(s_rows)} vs {len(d_rows)} rows)")
    return problems


def _churn(src, ops, by_round):
    """Model: lineitem base plus the script's appends, deletes and
    updates, replayed in DuckDB; the state after each commit is kept for
    time travel."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM '{src}/lineitem.parquet'")
    agg = ("SELECT count(*), sum(l_quantity), sum(l_extendedprice), "
           "sum(l_orderkey) FROM t")

    def state(where=""):
        c, q, p, k = con.execute(agg + where).fetchone()
        return {"count": c, "sum_qty": q or 0.0, "sum_price": p or 0.0,
                "sum_key": k or 0}

    after, want, commits = {}, {}, 1
    for i, op in enumerate(ops):
        kind = op[0]
        if kind == "append":
            con.execute(f"INSERT INTO t SELECT * FROM '{src}/churn_pool.parquet' "
                        f"WHERE l_orderkey >= {op[1]} AND l_orderkey < {op[2]}")
        elif kind == "delete":
            con.execute(f"DELETE FROM t WHERE l_orderkey = {op[1]}")
        elif kind == "update":
            con.execute(f"UPDATE t SET l_quantity = l_quantity + 1 "
                        f"WHERE l_orderkey = {op[1]}")
        elif kind == "lookup":
            want[(kind, i)] = state(f" WHERE l_orderkey = {op[1]}")
        elif kind == "scan":
            want[(kind, i)] = state()
        elif kind == "travel":
            want[(kind, i)] = after[op[1]]
        elif kind == "meta" and op[1] != "files":
            want[(kind, i)] = {"rows": commits}
        if kind in ("append", "delete", "update"):
            commits += 1
            after[i] = state()
    return _expect(by_round, want)


def _expect(by_round, want):
    problems = []
    for rnd, seen in by_round.items():
        for (kind, i), w in want.items():
            got = seen.get((kind, i, None))
            if got is None:
                problems.append(f"round {rnd} op {i}: no {kind} observation")
                continue
            for k in w:
                if not _close(got.get(k), w[k]):
                    problems.append(f"round {rnd} op {i} {kind}: {k} = "
                                    f"{got.get(k)} but the model says {w[k]}")
    return problems


def _erase(src, ops, by_round):
    """Model: the MOR and COW PII tables from pii_base plus the script's
    inserts, deletes and PII nulling, replayed in DuckDB."""
    con = duckdb.connect()
    for t in ("mor", "cow"):
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{src}/pii_base.parquet'")
    want = {}
    for i, op in enumerate(ops):
        kind, t = op[0], op[1]
        if kind == "insert":
            con.execute(f"INSERT INTO {t} SELECT * FROM '{src}/pii_pool.parquet' "
                        f"WHERE o_orderkey >= {op[2]} AND o_orderkey < {op[3]}")
        elif kind == "select":
            c, p, n = con.execute(
                f"SELECT count(*), sum(o_totalprice), count(c_name) FROM {t} "
                f"WHERE o_custkey = {op[2]}").fetchone()
            want[("select", i)] = {"count": c, "sum_price": p or 0.0, "names": n}
        elif kind == "erase":
            if op[2] == "delete":
                con.execute(f"DELETE FROM {t} WHERE o_custkey = {op[3]}")
            else:
                con.execute(f"UPDATE {t} SET c_name = NULL WHERE o_custkey = {op[3]}")
            c, p, n, k = con.execute(
                f"SELECT count(*), sum(o_totalprice), count(c_name), "
                f"sum(o_custkey) FROM {t}").fetchone()
            want[("live", i)] = {"count": c, "sum_price": p or 0.0, "names": n,
                                 "sum_cust": k or 0}
    problems = _expect(by_round, want)
    for rnd, seen in by_round.items():
        for i, op in enumerate(ops):
            if op[0] != "erase":
                continue
            delete = op[2] == "delete"
            pre, post = seen.get(("scan", i, "before")), seen.get(("scan", i, "after"))
            where = f"round {rnd} op {i} erase {op[1]}/{op[2]} of {op[4]}"
            if pre is None or post is None:
                problems.append(f"{where}: raw-file scan missing")
                continue
            # positive control: the scan must see the subject before erasing
            if pre["pii_hits"] == 0 or (delete and pre["key_hits"] == 0):
                problems.append(f"{where}: positive control did not fire {pre}")
            if post["pii_hits"] or post["meta_hits"] or (delete and post["key_hits"]):
                problems.append(f"{where}: erased subject still on disk {post}")
    return problems
