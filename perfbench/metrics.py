"""Turn the JVM driver's raw records into the benchmark's metrics.

Only timed rounds (round >= 1) count; round 0 is the warm-up. A failed
operation never enters a latency figure.
"""
import json
import math
import statistics

READS = {"query_catalog": {"query"}, "lake_churn": {"lookup"},
         "erase_sql": {"select"}}
LAKE_READS = ("lookup", "scan", "travel")
WRITES = ("append", "delete", "update")
CALLS = ("rewrite_data_files", "rewrite_position_delete_files",
         "expire_snapshots", "remove_orphan_files")
SPARK = ("spark.plan_s", "spark.jobs", "spark.tasks", "spark.job_s",
         "spark.executor_cpu_s", "spark.shuffle_mb", "driver.gap_s")
DIAG = ("jvm.gc_s", "jvm.jit_s", "proc.cpu_s", "host.steal_s")
ENV = ("nproc", "heap_mb", "local_k")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _op_type(r):
    return r.get("query") or r["kind"]


def unstolen(wall, cpu, steal):
    """Wall time with the host's steal taken out. Every thread in this
    machine that accrues steal is the benchmark's own, so with C the
    process CPU time and S the steal accrued over an interval, the work
    in it ran at C / (C + S) of its unstolen speed."""
    return wall * cpu / (cpu + steal) if cpu + steal > 0 else wall


def latency(r):
    return unstolen(r["wall_s"], r["cpu_s"], r["steal_s"])


def compute(workload, recs, traced):
    ops = [r for r in recs if r["type"] == "op" and r["round"] >= 1]
    good = [r for r in ops if r["ok"]]
    rounds = [r for r in recs if r["type"] == "round"]
    summary = next(r for r in recs if r["type"] == "summary")

    # Per-type medians keep an operation that stalled for another reason
    # out of the figures; a failed operation's time still counts against
    # throughput through its type's median.
    wall, cpu, count = {}, {}, {}
    for r in ops:
        count[_op_type(r)] = count.get(_op_type(r), 0) + 1
    for r in good:
        wall.setdefault(_op_type(r), []).append(latency(r))
        cpu.setdefault(_op_type(r), []).append(r["cpu_s"])
    reads = [latency(r) for r in good if r["kind"] in READS[workload]]
    e2e = {
        "setup_s": unstolen(summary["session_s"], summary["session_cpu_s"],
                            summary["session_steal_s"]) + median(
            [unstolen(r["setup_s"], r["setup_cpu_s"], r["setup_steal_s"])
             for r in recs if r["type"] in ("round", "setup")
             and r["round"] >= 1]),
        "ops_per_s": len(good) / sum(n * median(wall.get(t, []))
                                     for t, n in count.items()),
        "query_gm_s": geomean([median(v) for v in wall.values()]),
        "read_p50_s": median(reads),
    }
    units = {"setup_s": "s", "ops_per_s": "1/s"}
    e2e = {k: {"value": v, "unit": units.get(k, "s")} for k, v in e2e.items()}
    env = {k: summary[k] for k in DIAG + ENV}
    env["rounds"] = summary["rounds"]
    env["timed_wall_s"] = summary["timed_wall_s"]
    if not traced:
        return e2e, {}, env, {}
    cpu_per_op = sum(n * median(cpu.get(t, []))
                     for t, n in count.items()) / max(1, len(good))
    trace = {"self_time": self_time(recs), "read_build_by_delete_files": [
        (r["lake"]["lake.delete_files"], r["kind"], r["phases"]["build"])
        for r in good if r["kind"] in LAKE_READS]}
    layers = per_layer(workload, recs, good, rounds, summary)
    layers["cpu_s_per_op"] = {"value": cpu_per_op, "unit": "s"}
    return e2e, layers, env, trace


def per_layer(workload, recs, good, rounds, summary):
    def kind(*ks):
        return [r for r in good if r["kind"] in ks]

    def phase(rs, name):
        return [r["phases"].get(name, 0.0) for r in rs]

    timed_rounds = [r for r in rounds if r["round"] >= 1]
    lake_reads = kind(*LAKE_READS)
    writes = kind(*WRITES)
    written = [r for r in recs if r["type"] == "written" and r["round"] >= 1]
    erases = kind("erase")
    m = {
        "read_p90_s": pct([latency(r) for r in good
                           if r["kind"] in READS[workload]], 0.9),
        "scan_p50_s": median([latency(r) for r in kind("scan")]),
        "time_travel_p50_s": median([latency(r) for r in kind("travel")]),
        "append_p50_s": median([latency(r) for r in kind("append", "insert")]),
        "delete_p50_s": median([latency(r) for r in kind("delete")]),
        "update_p50_s": median([latency(r) for r in kind("update")]),
        "erase_p50_s": median([latency(r) for r in erases]),
        "stored_mb": median([r.get("stored_mb", 0.0) for r in timed_rounds]),
        "lake.read_build_s": median(phase(lake_reads, "build")),
        "lake.read_build_p90_s": pct(phase(lake_reads, "build"), 0.9),
        "lake.delete_files": max([r.get("lake", {}).get("lake.delete_files", 0)
                                  for r in good] or [0]),
        "lake.snapshots": max([r.get("lake", {}).get("lake.snapshots", 0)
                               for r in good] or [0]),
        "lake.metadata_json_kb": max(
            [r.get("lake", {}).get("lake.metadata_json_kb", 0.0)
             for r in good] or [0]),
        "lake.write_driver_s": median([r["wall_s"] - r["layers"]["spark.job_s"]
                                       for r in writes]),
        "lake.files_written": mean([w["lake.files_written"] for w in written]),
        "lake.mb_written": mean([w["lake.mb_written"] for w in written]),
        "lake.rewritten_mb": mean([w["lake.mb_written"] for w in written
                                   if w["kind"] == "erase"]),
        "lake.orphans_removed": mean([r["extra"].get("lake.orphans_removed", 0)
                                      for r in erases]),
    }
    for k in WRITES:
        m[f"lake.{k}_driver_s"] = median([r["wall_s"] - r["layers"]["spark.job_s"]
                                          for r in kind(k)])
    for c in CALLS:
        m[f"lake.{c}_s"] = median([r["phases"].get(f"call.{c}", 0.0)
                                   for r in erases])
    for s in ("insert", "delete", "update", "select"):
        m[f"sql.{s}_s"] = median([v for v in phase(good, f"sql.{s}") if v])
    m["sql.call_s"] = median([sum(r["phases"].get(f"call.{c}", 0.0)
                                  for c in CALLS) for r in erases])
    # a command (INSERT, DML, CALL) runs inside its own analysis phase,
    # so only SELECT analysis is separable from outside
    m["sql.analysis_s"] = median([r["extra"]["sql.select.analysis_s"]
                                  for r in kind("select")])
    for k in SPARK:
        m[k] = mean([r["layers"][k] for r in good])
    for fam in ("rel", "functions", "llm"):
        per_q = {}
        for r in good:
            if r.get("family") == fam:
                per_q.setdefault(r["query"], []).append(latency(r))
        m[f"{fam}.query_gm_s"] = geomean([median(v) for v in per_q.values()])
    for k in DIAG:
        m[k] = summary[k]
    units = {"lake.delete_files": "count", "lake.snapshots": "count",
             "lake.metadata_json_kb": "KB", "lake.files_written": "count",
             "lake.orphans_removed": "count", "spark.jobs": "count",
             "spark.tasks": "count", "stored_mb": "MB", "lake.mb_written": "MB",
             "lake.rewritten_mb": "MB", "spark.shuffle_mb": "MB"}
    return {k: {"value": float(v), "unit": units.get(k, "s")}
            for k, v in m.items()}


def self_time(recs):
    """Mean self time per operation type and layer, from the spans. A
    phase's self time is its span minus the Spark jobs inside it; the
    operation's own self time is what no phase covers."""
    spans = [r for r in recs if r["type"] == "span" and r["round"] >= 1]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def covered(intervals, lo, hi):
        total, reach = 0.0, lo
        for a, b in sorted(intervals):
            a, b = max(a, reach), min(b, hi)
            if b > a:
                total += b - a
                reach = b
        return total

    table = {}
    for op in (s for s in spans if s["layer"] == "op"):
        kids = children.get(op["id"], [])
        jobs = [(k["start_ms"], k["end_ms"]) for k in kids
                if k["layer"] == "spark.job"]
        phases = [k for k in kids if k["layer"] == "phase"]
        row = table.setdefault(op["name"], {"n": 0})
        row["n"] += 1
        lo, hi = op["start_ms"], op["end_ms"]
        add = {"spark.job": covered(jobs, lo, hi),
               "op.self": (hi - lo) - covered(
                   [(p["start_ms"], p["end_ms"]) for p in phases], lo, hi)}
        for p in phases:
            a, b = p["start_ms"], p["end_ms"]
            add[p["name"]] = add.get(p["name"], 0.0) + (b - a) - covered(jobs, a, b)
        for k, v in add.items():
            row[k] = row.get(k, 0.0) + v / 1e3
    for row in table.values():
        n = row["n"]
        for k in list(row):
            if k != "n":
                row[k] /= n
    return table
