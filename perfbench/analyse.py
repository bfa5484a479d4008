"""Turns one harness result into checked operations and metrics.

Pure functions over the harness's JSON (no Spark), so the rules the
benchmark's tests pin live here: the percentile rule, self time from
nested spans, and the correctness checks against the generator's oracle.
"""
import datetime
import hashlib
import json
import math
import os
import statistics
from decimal import Decimal

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}

SELF_LAYERS = ["run", "day", "session", "check", "entry", "etl.read_prior",
               "etl.dims", "etl.write", "etl.marts", "analytics.star",
               "analytics.call", "operators.build", "operators.exec",
               "sources.build", "sources.exec"]
MODULES = ["NorthStarQueries", "PipelineQueries", "MiningQueries"]

PER_LAYER_UNITS = dict(
    [("ingest.csv_scans", "count"), ("ingest.read_amp", "ratio"),
     ("etl.first_s", "s"), ("etl.incr_s", "s"), ("etl.space_amp", "ratio"),
     ("etl.read_prior_ms", "ms"), ("etl.dims_ms", "ms"), ("etl.dims_jobs", "count"),
     ("etl.dims_shuffle_bytes", "bytes"), ("etl.write_ms", "ms"),
     ("etl.write_jobs", "count"), ("etl.write_bytes", "bytes"),
     ("etl.marts_ms", "ms"), ("etl.marts_jobs", "count"), ("etl.core_util", "ratio"),
     ("analytics.dash_p50_ms", "ms"), ("analytics.dash_p70_ms", "ms"),
     ("analytics.dash_build_ms", "ms"), ("analytics.dash_exec_ms", "ms"),
     ("analytics.dash_jobs_per_op", "count"), ("analytics.dash_stages_per_op", "count"),
     ("analytics.dash_tasks_per_op", "count"),
     ("analytics.dash_read_bytes_per_op", "bytes"), ("analytics.dash_core_util", "ratio"),
     ("plans.dash_analysis_ms", "ms"), ("plans.dash_optimizer_ms", "ms"),
     ("plans.dash_planning_ms", "ms"), ("plans.operators_planning_ms", "ms"),
     ("plans.snapshots_planning_ms", "ms"),
     ("operators.build_ms", "ms"), ("operators.build_jobs", "count"),
     ("operators.exec_ms", "ms"), ("operators.exec_jobs", "count"),
     ("operators.stages", "count"), ("operators.task_ms", "ms"),
     ("operators.shuffle_bytes", "bytes"), ("operators.spill_bytes", "bytes"),
     ("operators.core_util", "ratio")]
    + [(f"operators.{m}.{k}_ms", "ms") for m in MODULES for k in ("build", "exec")]
    + [("sources.build_ms", "ms"), ("sources.build_jobs", "count"),
       ("sources.exec_ms", "ms"), ("sources.exec_jobs", "count"),
       ("sources.write_bytes", "bytes"), ("sources.files_written", "count"),
       ("sources.files_read", "count"), ("sources.read_bytes", "bytes"),
       ("jvm.gc_ms", "ms"), ("jvm.heap_retained_mb", "MB"),
       ("spark.failed_tasks", "count")]
    + [(f"self.{layer}_ms", "ms") for layer in SELF_LAYERS])


# ------------------------------------------------------------ statistics

def percentile(values, p, min_beyond=10):
    """Nearest-rank p-th percentile (0 < p < 1), or None when fewer than
    ``min_beyond`` samples lie above it: a tail figure needs at least ten
    samples beyond it to mean anything."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(p * len(xs)))
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def median(values):
    return statistics.median(values) if values else None


# ----------------------------------------------------------------- spans

def self_times(spans):
    """Span id -> self time in ns: its duration minus the part of its
    interval that its children cover (overlapping children counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def dur_ms(s):
    return (s["end_ns"] - s["start_ns"]) / 1e6


def total(spans, field):
    return sum(s[field] for s in spans)


def ratio(a, b):
    return a / b if b else 0.0


def core_util(spans, cores):
    """Task time over the wall time the spans were open, per core."""
    return ratio(total(spans, "task_ms"), sum(dur_ms(s) for s in spans) * cores)


# ----------------------------------------------------------------- checks

def cents_to_double(cents):
    return float(Decimal(cents) / Decimal(100))


def expected_slice(day, slice_):
    """(sales cents, profit cents, rows) per category for a dashboard view."""
    per_cat = {}
    for key, (s_c, p_c, n) in day["slices"].items():
        seg, cat, year = key.split("|")
        if slice_:
            col, val = slice_
            if {"segment": seg, "category": cat, "order_year": year}[col] != val:
                continue
        agg = per_cat.setdefault(cat, [0, 0, 0])
        agg[0] += s_c
        agg[1] += p_c
        agg[2] += n
    return per_cat


def expected_answer(day, answer):
    per_cat = expected_slice(day, answer["slice"])
    if answer["chart"] == "kpis":
        s = sum(v[0] for v in per_cat.values())
        p = sum(v[1] for v in per_cat.values())
        n = sum(v[2] for v in per_cat.values())
        if n == 0:
            return [[None, None, 0, None]]
        sales = cents_to_double(s)
        return [[sales, cents_to_double(p), n, sales / n]]
    sides = {}
    for cat, (s_c, p_c, n) in per_cat.items():
        side = "selected" if cat == answer["arg"] else "rest"
        agg = sides.setdefault(side, [0, 0])
        agg[0] += s_c
        agg[1] += p_c
    return [[side, cents_to_double(v[0]), cents_to_double(v[1])]
            for side, v in sorted(sides.items())]


def check_retail(result, oracle):
    """(attempted, failed, problems): one operation per ETL day and per
    dashboard call. A day fails if it raised or left the warehouse wrong
    (the dims are checked once, after the last day, which they then fail);
    a call fails if it raised or (kpis, categoryVsRest) answered wrong."""
    days = oracle["days"]
    last = len(days) - 1
    problems = list(result["errors"])
    bad_days = {i for i, ms in enumerate(result["etl_ms"]) if ms is None}
    per_day = [c for c in result["checks"] if "fact_rows" in c]
    final = next((c for c in result["checks"] if "fact_rows" not in c), {})
    for c in per_day:
        if c["fact_rows"] != days[c["day"]]["rows"]:
            bad_days.add(c["day"])
            problems.append(f"day{c['day']}: fact rows = {c['fact_rows']}, "
                            f"expected {days[c['day']]['rows']}")
    want = {"dim_customer_keys": days[last]["customers"],
            "dim_product_keys": days[last]["products"],
            "dim_customer_bad_current": 0, "dim_product_bad_current": 0}
    for k, v in want.items():
        if final.get(k) != v:
            bad_days.add(last)
            problems.append(f"final warehouse: {k} = {final.get(k)}, expected {v}")
    expired = final.get("dim_customer_expired", 0) + final.get("dim_product_expired", 0)
    if expired != oracle["expired_versions"]:
        bad_days.add(last)
        problems.append(f"final warehouse: {expired} expired versions, expected "
                        f"{oracle['expired_versions']} changed keys")
    if len(per_day) != len(days) or len(result["etl_ms"]) != len(days):
        bad_days |= set(range(len(result["etl_ms"]), len(days))) | {last}
        problems.append(f"ran {len(result['etl_ms'])} and checked {len(per_day)} "
                        f"of {len(days)} days")
    calls = result["calls"]
    bad_calls = sum(1 for c in calls if "error" in c) + result["calls_planned"] - len(calls)
    problems += [f"day{c['day']} {c['chart']}: {c['error']}" for c in calls if "error" in c]
    for a in result["answers"]:
        want = expected_answer(days[a["day"]], a)
        if a["rows"] != want:
            bad_calls += 1
            problems.append(f"day{a['day']} {a['chart']} {a['slice']} {a['arg']}: "
                            f"{a['rows']} != {want}")
    return len(days) + result["calls_planned"], len(bad_days) + bad_calls, problems


def canon_value(v):
    """One result value as text, by the rules of tools/check.py: whole
    numbers apart from other numbers, which compare exactly as doubles
    (decimals included); dates as ISO strings; structs and maps by key."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else repr(f + 0.0)  # -0.0 == 0.0
    if isinstance(v, (datetime.date, datetime.datetime)):
        return json.dumps(v.isoformat())
    if isinstance(v, dict):
        return "{" + ",".join(json.dumps(str(k)) + ":" + canon_value(x)
                              for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return json.dumps(str(v))


def result_digest(columns, rows):
    """Order-free digest of a result: column names sorted, each row's
    values in that column order, rows sorted as text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("[" + ",".join(canon_value(r[i]) for i in order) + "]" for r in rows)
    text = "\n".join([json.dumps([columns[i] for i in order])] + lines)
    return hashlib.sha256(text.encode()).hexdigest()


def check_catalog(result, expected):
    """One operation per expected entry; it fails if it raised, returned
    another row count or other values than the committed ones, or did
    not run."""
    problems = []
    ran = set()
    for e in result["entries"]:
        ran.add(e["name"])
        want = expected.get(e["name"], {})
        if "error" in e:
            problems.append(f"{e['name']}: {e['error']}")
        elif want.get("rows") != e["rows"]:
            problems.append(f"{e['name']}: {e['rows']} rows, expected {want.get('rows')}")
        elif want.get("digest") != result_digest(e["columns"], e["values"]):
            problems.append(f"{e['name']}: values differ from the expected digest")
    problems += [f"{n}: did not run" for n in sorted(set(expected) - ran)]
    return max(len(set(expected) | ran), 1), len(problems), problems


# ---------------------------------------------------------------- metrics

def end_to_end(res):
    """The end-to-end metrics and the number of timed operations in the
    pass. pass_s sums the timed operations: ETL days and dashboard calls
    (retail), or each entry's Q.run plus count() (operators, snapshots)."""
    r = res["result"]
    if res["workload"] == "retail":
        ops = [x for x in r["etl_ms"] if x is not None] + \
            [c["build_ms"] + c["exec_ms"] for c in r["calls"] if "error" not in c]
    else:
        ops = [e["build_ms"] + e["exec_ms"] for e in r["entries"]]
    values = {
        "setup_s": res["gen_s"] + (res["setup_done_ms"] - res["launch_ms"]) / 1000,
        "pass_s": sum(ops) / 1000,
        "peak_rss_mb": res["peak_rss_kb"] / 1024,
    }
    return values, len(ops)


def per_layer(res, oracle):
    spans = res["spans"]
    cores = res["env"]["cores"]
    r = res["result"]
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    selfs = self_times(spans)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms"] = sum(selfs[s["id"]] for s in spans
                                    if s["layer"] == layer) / 1e6
    m["jvm.gc_ms"] = float(res["gc_ms"])
    m["jvm.heap_retained_mb"] = res["heap_retained_bytes"] / 2 ** 20
    m["spark.failed_tasks"] = float(total(spans, "failed_tasks"))

    if res["workload"] == "retail":
        n_days = max(1, len(r["etl_ms"]))
        etl = [s for s in spans if s["layer"].startswith("etl.")]
        extract = sum(d["bytes"] for d in oracle["days"])
        m["ingest.csv_scans"] = total(etl, "csv_scans") / n_days
        m["ingest.read_amp"] = ratio(total(etl, "input_bytes"), extract)
        etl_ms = [x for x in r["etl_ms"] if x is not None]
        if etl_ms:
            m["etl.first_s"] = etl_ms[0] / 1000
            m["etl.incr_s"] = (median(etl_ms[1:]) or 0.0) / 1000
        m["etl.space_amp"] = ratio(res["warehouse_bytes"], oracle["days"][-1]["bytes"])
        for part in ("read_prior", "dims", "write", "marts"):
            ss = [s for s in spans if s["layer"] == f"etl.{part}"]
            m[f"etl.{part}_ms"] = sum(dur_ms(s) for s in ss) / n_days
            if part != "read_prior":
                m[f"etl.{part}_jobs"] = total(ss, "jobs") / n_days
            if part == "dims":
                m["etl.dims_shuffle_bytes"] = total(ss, "shuffle_write_bytes") / n_days
            if part == "write":
                m["etl.write_bytes"] = total(ss, "output_bytes") / n_days
        m["etl.core_util"] = core_util(etl, cores)

        calls = [c for c in r["calls"] if "error" not in c]
        lat = [c["build_ms"] + c["exec_ms"] for c in calls]
        m["analytics.dash_p50_ms"] = median(lat) or 0.0
        m["analytics.dash_p70_ms"] = percentile(lat, 0.70) or 0.0
        n = max(1, len(calls))
        m["analytics.dash_build_ms"] = sum(c["build_ms"] for c in calls) / n
        m["analytics.dash_exec_ms"] = sum(c["exec_ms"] for c in calls) / n
        dash = [s for s in spans if s["layer"] == "analytics.call"]
        m["analytics.dash_jobs_per_op"] = total(dash, "jobs") / n
        m["analytics.dash_stages_per_op"] = total(dash, "stages") / n
        m["analytics.dash_tasks_per_op"] = total(dash, "tasks") / n
        m["analytics.dash_read_bytes_per_op"] = total(dash, "input_bytes") / n
        m["analytics.dash_core_util"] = core_util(dash, cores)
        m["plans.dash_analysis_ms"] = total(dash, "analysis_ms") / n
        m["plans.dash_optimizer_ms"] = total(dash, "optimizer_ms") / n
        m["plans.dash_planning_ms"] = total(dash, "planning_ms") / n
        return m

    layer = "operators" if res["workload"] == "operators" else "sources"
    build = [s for s in spans if s["layer"] == f"{layer}.build"]
    exe = [s for s in spans if s["layer"] == f"{layer}.exec"]
    both = build + exe
    planning = sum(s["analysis_ms"] + s["optimizer_ms"] + s["planning_ms"] for s in both)
    m[f"plans.{res['workload']}_planning_ms"] = float(planning)
    m[f"{layer}.build_ms"] = sum(dur_ms(s) for s in build)
    m[f"{layer}.build_jobs"] = float(total(build, "jobs"))
    m[f"{layer}.exec_ms"] = sum(dur_ms(s) for s in exe)
    m[f"{layer}.exec_jobs"] = float(total(exe, "jobs"))
    if layer == "operators":
        m["operators.stages"] = float(total(both, "stages"))
        m["operators.task_ms"] = float(total(both, "task_ms"))
        m["operators.shuffle_bytes"] = float(total(both, "shuffle_write_bytes"))
        m["operators.spill_bytes"] = float(total(both, "spill_bytes"))
        m["operators.core_util"] = core_util(both, cores)
        module = {e["name"]: e["module"] for e in r["entries"]}
        entry_of = {s["id"]: s["name"] for s in spans if s["layer"] == "entry"}
        for kind, ss in (("build", build), ("exec", exe)):
            for s in ss:
                mod = module.get(entry_of.get(s["parent"]))
                if mod in MODULES:
                    m[f"operators.{mod}.{kind}_ms"] += dur_ms(s)
    else:
        m["sources.write_bytes"] = float(total(both, "output_bytes"))
        m["sources.files_written"] = float(total(both, "files_written"))
        m["sources.files_read"] = float(total(both, "files_read"))
        m["sources.read_bytes"] = float(total(both, "input_bytes"))
    return m


def report(res, oracle):
    r = res["result"]
    if res["workload"] == "retail":
        attempted, failed, problems = check_retail(r, oracle)
    else:
        attempted, failed, problems = check_catalog(r, oracle)
    e2e, samples = end_to_end(res)
    out = {
        "workload": res["workload"], "seed": res["seed"], "trace": res["trace"],
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "fail_frac": failed / attempted, "problems": problems[:50],
        "samples": samples, "env": res["env"],
        "metrics": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()},
    }
    if res["trace"]:
        pl = per_layer(res, oracle)
        out["trace_metrics"] = {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                                for k, v in pl.items()}
    return out


def summary_lines(rep, results_dir, workload, seed, trace):
    """Human-readable lines printed before the result line."""
    lines = [f"workload {workload} seed {seed} trace {trace}: "
             f"{rep['attempted']} operations, {rep['failed']} failed "
             f"(fail_frac {rep['fail_frac']:.4f}), {rep['samples']} timed samples"]
    if "cpu_steal_share" in rep["env"]:
        lines.append(f"  cpu steal during the JVM run: {rep['env']['cpu_steal_share'] * 100:.1f}%")
    for k, v in rep["metrics"].items():
        lines.append(f"  {k} = {v['value']:.6g} {v['unit']}")
    for k, v in rep.get("trace_metrics", {}).items():
        lines.append(f"  {k} = {v['value']:.6g} {v['unit']}")
    for p in rep["problems"][:10]:
        lines.append(f"  FAILED: {p}")
    if trace:
        base = os.path.join(results_dir, f"{workload}-s{seed}-t0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["report"]["metrics"]
            for k, v in rep["metrics"].items():
                u = untraced[k]["value"]
                lines.append(f"  tracing overhead {k}: {v['value'] - u:+.6g} {v['unit']}"
                             f" ({ratio(v['value'] - u, u) * 100:+.1f}%)")
        else:
            lines.append("  tracing overhead: run the same seed with --trace 0 first")
    return lines


def dir_bytes(path):
    n = 0
    for d, _, names in os.walk(path):
        for name in names:
            n += os.path.getsize(os.path.join(d, name))
    return n
