"""Metrics, output checks and the trace summary of one benchmark run."""
import decimal
import json
import math
import statistics

# Names and units of every metric the benchmark prints (BENCHMARK.json
# lists the same names).
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}
PER_LAYER = {
    "engine.session_s": "s",
    "plans.plan_s": "s",
    "plans.plan_share": "ratio",
    "modules.self_share": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "jvm.gc_s": "s",
    "als.fit_jobs": "count",
    "graph.rounds": "count",
    "lake.data_files": "count",
    "lake.dv_files": "count",
}
MB = 1e6


def percentile(values, q):
    """The q-quantile (nearest rank: the ceil(q·n)-th smallest value), or
    None when fewer than ten samples lie above it, which is too few to say
    anything about that tail."""
    xs = sorted(values)
    k = max(1, math.ceil(q * len(xs)))
    if len(xs) - k < 10:
        return None
    return xs[k - 1]


def tail(values, qs=(0.99, 0.95, 0.9, 0.75, 0.5)):
    """The highest of `qs` that has at least ten samples beyond it, as
    (q, value), or None."""
    for q in qs:
        v = percentile(values, q)
        if v is not None:
            return q, v
    return None


def _metric(name, value, table):
    return {"value": value, "unit": table[name]}


def end_to_end(res):
    values = {
        "setup_s": statistics.median(res["setup_s"]),
        "pass_s": statistics.median(res["passes_s"]),
    }
    return {k: _metric(k, v, END_TO_END) for k, v in values.items()}


# ---- output checks done outside the JVM ----

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def _canonical(columns, rows):
    """Rows as tuples with columns in name order, sorted; values that are
    neither numbers nor strings compare by their text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if isinstance(v, decimal.Decimal):
            return float(v)
        return v if v is None or isinstance(v, (int, float, str)) else str(v)

    def key(row):
        return tuple((v is None, "" if v is None else str(type(v).__name__),
                      v if v is not None else 0) for v in row)
    out = [tuple(cell(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=key)


def oracle_checks(data):
    """Each query's warm-up result (which the JVM checked equal to every
    timed result) against its DuckDB oracle over the same parquet files."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(f"{data}/results.json") as f:
        results = json.load(f)
    checks = []
    for name, res in sorted(results.items()):
        detail = ""
        try:
            cur = con.execute(res["oracle"])
            gcols, got = _canonical(res["columns"], res["rows"])
            wcols, want = _canonical([d[0] for d in cur.description], cur.fetchall())
            if gcols != wcols:
                detail = f"columns {gcols} != {wcols}"
            elif len(got) != len(want):
                detail = f"rows {len(got)} != {len(want)}"
            else:
                for i, (g, w) in enumerate(zip(got, want)):
                    if not all(_same(x, y) for x, y in zip(g, w)):
                        detail = f"row {i}: spark {g}, oracle {w}"
                        break
        except Exception as e:  # an oracle that cannot run is a failed check
            detail = f"error: {e}"
        checks.append({"name": f"mix.{name}.oracle", "ok": not detail, "detail": detail})
    return checks


def lake_checks(res, data):
    """The head aggregate after each round, and the timed `VERSION AS OF`
    read of the created table, against the benchmark's replay of the same
    changes (lake_rounds.json)."""
    with open(f"{data}/lake_rounds.json") as f:
        spec = json.load(f)
    rounds, base = spec["rounds"], spec["base_expect"]
    got = res["info"].get("lake_rounds", [])
    ctas = res["info"].get("lake_ctas", {}).get("agg")
    checks = [{"name": "lake.rounds_run", "ok": len(got) == len(rounds),
               "detail": f"{len(got)} of {len(rounds)} rounds recorded"},
              {"name": "lake.timetravel.replay", "ok": ctas == base,
               "detail": f"VERSION AS OF the created table {ctas}, replay {base}"}]
    for i, (g, want) in enumerate(zip(got, rounds)):
        ok = g["agg"] == want["expect"]
        checks.append({"name": f"lake.round{i}.replay", "ok": ok,
                       "detail": f"head {g['agg']}, replay {want['expect']}"})
    return checks


# ---- traced run: spans → per-module self time and counters ----

COUNTERS = ["jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
            "shuffle_read_b", "shuffle_write_b", "spill_b", "written_b"]


def self_times(trace):
    """Self time per span: its duration minus its child spans and the
    planning phases (analysis, optimization, planning) that started inside
    it and in none of its children. Returns (spans by id, phase seconds by
    span id)."""
    spans = {s["id"]: dict(s, end_ms=s["start_ms"] + 1e3 * s["s"], child_s=0.0)
             for s in trace["spans"]}
    for s in spans.values():
        if s["parent"] in spans:
            spans[s["parent"]]["child_s"] += s["s"]
    plan = {}
    for p in trace["phases"]:
        inside = [s for s in spans.values() if s["start_ms"] <= p["start_ms"] < s["end_ms"]]
        if inside:
            sid = max(inside, key=lambda s: (s["start_ms"], s["id"]))["id"]
            plan[sid] = plan.get(sid, 0.0) + (p["end_ms"] - p["start_ms"]) / 1e3
    for sid, s in spans.items():
        s["plan_s"] = plan.get(sid, 0.0)
        s["self_s"] = max(0.0, s["s"] - s["child_s"] - s["plan_s"])
    return spans


def trace_dump(workload, res, data):
    """The span and counter dump of a traced run, with per-module self
    times over the measured window and the per-module metrics of the
    benchmark's module table."""
    trace = res["trace"]
    spans = self_times(trace)
    w0, w1 = trace["window_start_ms"], trace["window_end_ms"]
    wall = (w1 - w0) / 1e3
    in_window = [s for s in spans.values() if w0 <= s["start_ms"] < w1]
    modules = {}
    for s in in_window:
        m = modules.setdefault(s["module"], {"self_s": 0.0, "calls": 0, **{c: 0 for c in COUNTERS}})
        m["self_s"] += s["self_s"]
        m["calls"] += 1
        for c in COUNTERS:
            m[c] += s.get(c, 0)
    plan_s = sum(s["plan_s"] for s in in_window)
    if plan_s:
        modules.setdefault("plans", {"self_s": 0.0, "calls": 0})["self_s"] += plan_s
    covered = sum(m["self_s"] for m in modules.values())
    total = {c: sum(s.get(c, 0) for s in in_window) for c in COUNTERS}
    ops = res["ops"]
    cores = res["cores"]
    engine = [s for s in spans.values() if s["module"] == "engine"]

    def named(module, name):
        return [s for s in in_window if s["module"] == module and s["name"] == name]

    def med(module, name, key="s"):
        xs = [s.get(key, 0) for s in named(module, name)]
        return statistics.median(xs) if xs else 0.0

    def util(m):
        return m["cpu_s"] / (wall * cores)

    table = {
        "engine.session_s": engine[0]["s"] if engine else 0.0,
        "plans.plan_s": plan_s,
        "plans.plan_share": plan_s / wall,
    }
    info = res["info"]
    if "als" in modules:
        table.update({
            "ingest.read_s": med("ingest", "read"), "ingest.encode_s": med("ingest", "encode"),
            "ingest.split_s": med("ingest", "split"),
            "als.fit_s": med("als", "fit"), "als.eval_s": med("als", "eval"),
            "als.predict_s": sum(s["s"] for s in spans.values() if s["name"] == "predict"),
            "als.fit_jobs": med("als", "fit", "jobs"), "als.fit_tasks": med("als", "fit", "tasks"),
            "als.fit_cpu_s": med("als", "fit", "cpu_s"),
            "als.fit_shuffle_mb": med("als", "fit", "shuffle_write_b") / MB,
            "als.probe_rmse": statistics.median(info["rmse"]),
            "als.baseline_rmse": info["baseline_rmse"],
        })
    if "ops" in modules:
        m = modules["ops"]
        table.update({
            "ops.exec_s": m["self_s"],
            "ops.jobs_per_query": m["jobs"] / m["calls"],
            "ops.tasks_per_query": m["tasks"] / m["calls"],
            "ops.cpu_s": m["cpu_s"], "ops.cpu_util": util(m),
            "ops.shuffle_mb": m["shuffle_write_b"] / MB, "ops.spill_mb": m["spill_b"] / MB,
            "ops.gc_s": m["gc_s"],
        })
    if "graph" in modules:
        m, rounds = modules["graph"], info["graph_rounds"]
        graph_s = sum(s["s"] for s in in_window if s["module"] == "graph")
        table.update({
            "graph.pagerank_s": med("graph", "pagerank"), "graph.ppr_s": med("graph", "ppr"),
            "graph.bfs_s": med("graph", "bfs"), "graph.hops_s": med("graph", "hops"),
            "graph.rounds": rounds, "graph.s_per_round": graph_s / rounds,
            "graph.jobs": m["jobs"], "graph.tasks": m["tasks"], "graph.cpu_util": util(m),
        })
    if "lake" in modules:
        with open(f"{data}/lake_rounds.json") as f:
            spec = json.load(f)
        base_rows = sum(a[0] for a in spec["base_expect"].values())
        bytes_per_row = info["store_bytes_ctas"] / base_rows
        changed = sum(r["rows_changed"] for r in spec["rounds"])
        table.update({
            "lake.ctas_s": med("lake", "ctas"), "lake.merge_s": med("lake", "merge"),
            "lake.update_s": med("lake", "update"), "lake.delete_s": med("lake", "delete"),
            "lake.insert_s": med("lake", "insert"), "lake.read_s": med("lake", "read"),
            "lake.timetravel_s": med("lake", "timetravel"),
            "lake.bytes_written_mb": modules["lake"]["written_b"] / MB,
            "lake.write_amp": (info["store_bytes_end"] - info["store_bytes_ctas"])
            / (changed * bytes_per_row),
            "lake.data_files": info["data_files"], "lake.dv_files": info["dv_files"],
        })
    return {
        "workload": workload,
        "wall_s": wall,
        "gc_s": res["gc_s"],
        "cores": cores,
        "ops": len(ops),
        "modules": modules,
        "covered_share": covered / wall,
        "totals": total,
        "table": table,
        "info": info,
        "spans": trace["spans"],
        "phases": trace["phases"],
    }


def per_layer(dump):
    t, n = dump["totals"], max(1, dump["ops"])
    table = dump["table"]
    values = {
        "engine.session_s": table["engine.session_s"],
        "plans.plan_s": table["plans.plan_s"],
        "plans.plan_share": table["plans.plan_share"],
        "modules.self_share": dump["covered_share"],
        "spark.jobs": t["jobs"],
        "spark.tasks": t["tasks"],
        "spark.jobs_per_op": t["jobs"] / n,
        "spark.tasks_per_op": t["tasks"] / n,
        "spark.cpu_s": t["cpu_s"],
        "spark.cpu_util": t["cpu_s"] / (dump["wall_s"] * dump["cores"]),
        "spark.shuffle_mb": t["shuffle_write_b"] / MB,
        "spark.spill_mb": t["spill_b"] / MB,
        "jvm.gc_s": dump["gc_s"],
        "als.fit_jobs": table.get("als.fit_jobs", 0),
        "graph.rounds": table.get("graph.rounds", 0),
        "lake.data_files": table.get("lake.data_files", 0),
        "lake.dv_files": table.get("lake.dv_files", 0),
    }
    return {k: _metric(k, v, PER_LAYER) for k, v in values.items()}


def module_table(dump):
    lines = [f"{dump['workload']}: traced window {dump['wall_s']:.3f} s, "
             f"module self time covers {100 * dump['covered_share']:.1f}%"]
    for m, v in sorted(dump["modules"].items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"  {m:8s} self {v['self_s']:8.3f} s  calls {v['calls']}")
    for k, v in sorted(dump["table"].items()):
        lines.append(f"  {k:24s} {v:.6g}")
    return "\n".join(lines)

