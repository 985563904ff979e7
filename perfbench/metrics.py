"""Turns one raw run record of the harness into metrics and output checks.

Pure functions only: no process, file or clock access, so the tests can
drive every rule here from synthetic records.
"""
import math
import re
import statistics
from fractions import Fraction

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

# Percentile ladder for tails, highest first.
LADDER = ("99.9", "99", "95", "90", "75", "50")

FAMILIES = ("silver", "gold", "analytics", "meta", "nb", "rel", "win",
            "events", "dedup", "text", "sim", "mm", "sample")

READS = ("/sample-data", "/verify-results", "/status")

E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s"}


def per_layer_units():
    """Every per-layer metric name with its unit, in a fixed order."""
    units = {"session.start_ms": "ms",
             "construct.ms": "ms", "construct.jobs": "count",
             "construct.queries_with_jobs": "count",
             "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
             "plan.planning_ms": "ms",
             "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
             "exec.tasks": "count", "exec.executor_run_ms": "ms",
             "exec.executor_cpu_ms": "ms", "exec.gc_ms": "ms",
             "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
             "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
             "exec.busy_ratio": "ratio",
             "artifacts.n": "count", "artifacts.build_s": "s",
             "artifacts.slowest_s": "s", "artifacts.bytes": "bytes",
             "artifacts.bytes_per_input_byte": "ratio",
             "cache.persisted_rdds_after": "count",
             "pipeline.bronze_ms": "ms", "pipeline.silver_ms": "ms",
             "pipeline.gold_ms": "ms", "pipeline.inventory_ms": "ms",
             "serve.trigger_server_ms": "ms", "serve.trigger_overhead_ms": "ms",
             "serve.sample_p50_ms": "ms", "serve.verify_p50_ms": "ms",
             "serve.status_p50_ms": "ms", "serve.read_overlap_share": "ratio",
             "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB"}
    for f in FAMILIES:
        for part in ("construct_ms", "plan_ms", "exec_ms"):
            units[f"family.{f}.{part}"] = "ms"
    units["trace.overhead_pct"] = "%"
    return units


# ---------------------------------------------------------------- percentiles

def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n samples."""
    return n - math.ceil(Fraction(p) * n / 100)


def tail_level(n):
    """The highest ladder percentile with at least 10 samples beyond it."""
    for p in LADDER:
        if beyond(n, p) >= 10:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile."""
    xs = sorted(values)
    k = max(1, math.ceil(Fraction(p) * len(xs) / 100))
    return xs[k - 1]


def summary(values):
    """Median and tail of a latency sample, each with its sample count."""
    n = len(values)
    out = {"n": n, "p50": statistics.median(values) if values else None}
    level = tail_level(n)
    out["tail_p"] = level
    out["tail"] = percentile(values, level) if level else None
    out["beyond_tail"] = beyond(n, level) if level else None
    return out


def median_or_zero(values):
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------- checks

def check_suite(raw, expected):
    """One entry per committed query and per index-build construction: None
    when it passed, else the reason."""
    failed_runs = {}
    for o in raw["ops"]:
        if not o.get("ok"):
            failed_runs.setdefault(o["name"], o.get("error"))
    out = {}
    for c in raw["checks"]:
        name = c["name"]
        exp = expected.get(name)
        if not c.get("ok"):
            out[name] = "check run failed: " + str(c.get("error"))
        elif name in failed_runs:
            out[name] = "timed run failed: " + str(failed_runs[name])
        elif exp is None:
            out[name] = "no expected value"
        elif c["rows"] != exp["rows"]:
            out[name] = f"rows {c['rows']} != expected {exp['rows']}"
        elif c["digest"] != exp["digest"]:
            out[name] = f"digest {c['digest']} != expected {exp['digest']}"
        elif c["schema"] != exp["schema"]:
            out[name] = "schema differs from expected"
        else:
            out[name] = None
    for o in raw["index_build"]:
        exp = expected.get(o["name"])
        key = "build:" + o["name"]
        if not o.get("ok"):
            out[key] = "construction failed: " + str(o.get("error"))
        elif exp is None:
            out[key] = "no expected value"
        elif o["schema"] != exp["schema"]:
            out[key] = "schema differs from expected"
        else:
            out[key] = None
    return out


def check_request(r, expected):
    """None when the response is right, else the reason."""
    if r.get("error"):
        return r["error"]
    if not 200 <= r["code"] < 300:
        return f"HTTP {r['code']}"
    ep = r["endpoint"]
    if ep == "/trigger-etl":
        if r.get("status") != "success":
            return f"status {r.get('status')}"
        if r.get("layers_processed") != expected["layers_processed"]:
            return f"layers {r.get('layers_processed')}"
    elif ep == "/verify-results":
        if r.get("tables") != expected["inventory_rows"]:
            return f"inventory {r.get('tables')}"
    elif ep == "/sample-data":
        want = {t: expected["sample_rows"] for t in expected["gold_tables"]}
        if r.get("samples") != want:
            return f"samples {r.get('samples')}"
    elif ep == "/status":
        if r.get("status") != "running":
            return f"status {r.get('status')}"
    return None


PIPELINE_PARTS = ("bronze", "silver", "gold", "inventory")


def check_etl_serve(raw, expected):
    """Every response, and on a traced run every timed `Pipeline.run` call
    and inventory: a traced run without them fails rather than printing
    zeros for the pipeline layer."""
    reqs = raw["setup_requests"] + raw["requests"]
    out = {f"{r['id']}{r['endpoint']}": check_request(r, expected) for r in reqs}
    if raw.get("trace"):
        runs = raw.get("pipeline_runs") or []
        for part in PIPELINE_PARTS:
            if not any(p["layer"] == part for p in runs):
                out[f"pipeline:{part}"] = "no timed run"
        for p in runs:
            out[f"pipeline{p['rep']}:{p['layer']}"] = (
                None if p["status"] == "success" else f"status {p['status']}: {p.get('error')}")
    return out


CHECKS = {"suite": check_suite, "etl_serve": check_etl_serve}


def verdict(workload, raw, expected, names):
    """(attempted, failed, failures) for a run. A committed name that never
    ran counts as a failed operation."""
    results = CHECKS[workload](raw, expected)
    if workload != "etl_serve":
        for n in names:
            results.setdefault(n, "did not run")
    failures = {k: v for k, v in results.items() if v is not None}
    return len(results), len(failures), failures


# ---------------------------------------------------------------- metrics

def fastest(raw, traced=None):
    """Per query, its fastest timed pass (among the traced or untraced
    passes only, when `traced` is given); queries with a failed pass are
    left out (they count as failures)."""
    best, failed = {}, set()
    for o in raw["ops"]:
        if not o.get("ok"):
            failed.add(o["name"])
        elif traced is not None and o.get("traced", False) != traced:
            continue
        elif o["name"] not in best or o["wall_ms"] < best[o["name"]]["wall_ms"]:
            best[o["name"]] = o
    return [o for n, o in best.items() if n not in failed]


def check_request_ok(r):
    return not r.get("error") and 200 <= r["code"] < 300


def op_latencies(workload, raw):
    if workload == "etl_serve":
        return [r["recv_ms"] - r["send_ms"] for r in raw["requests"] if check_request_ok(r)]
    return [o["wall_ms"] for o in fastest(raw)]


def end_to_end(workload, raw):
    lat = op_latencies(workload, raw)
    if workload == "etl_serve":
        rate = len(lat) / raw["timed_s"]
    else:
        rate = len(lat) / (sum(lat) / 1000.0) if lat else 0.0
    return {"setup_s": raw["setup_s"], "op_p50_ms": median_or_zero(lat),
            "ops_per_s": rate}


def result(values, units, attempted, failed):
    """The result line: every metric named in `units`, with its unit."""
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}


def overhead_pct(workload, raw):
    """Tracing overhead measured inside one traced run: the traced
    stretches' operation time over the untraced stretches' (suite: summed
    fastest passes; etl_serve: mean request latency), minus one, in %."""
    if workload == "suite":
        on = sum(o["wall_ms"] for o in fastest(raw, traced=True))
        off = sum(o["wall_ms"] for o in fastest(raw, traced=False))
    else:
        ok = [r for r in raw["requests"] if check_request_ok(r)]
        lat = {t: [r["recv_ms"] - r["send_ms"] for r in ok if r["traced"] == t]
               for t in (True, False)}
        on, off = (statistics.mean(lat[t]) if lat[t] else 0.0 for t in (True, False))
    return 100.0 * (on - off) / off if on and off else 0.0


def detail(workload, raw, attempted, failed):
    """The workload's own end-to-end figures (the suite's total and query
    latencies, the index build, trigger and read latencies, serve rate),
    each latency with its sample count."""
    out = {"error_rate": failed / attempted if attempted else 1.0}
    if workload == "suite":
        lat = op_latencies(workload, raw)
        out["suite_s"] = sum(lat) / 1000.0
        out["query_ms"] = summary(lat)
        build = [o for o in raw["index_build"] if o.get("ok")]
        out["artifacts_built_in_setup"] = raw["artifacts_at_setup"]
        out["artifacts_built_while_timed"] = raw["artifacts_after_timed"] - raw["artifacts_at_setup"]
        if build:
            out["index_build_s"] = sum(o["wall_ms"] for o in build if o["artifacts_built"] > 0) / 1000.0
            out["index_construct_s"] = sum(o["wall_ms"] for o in build if o["artifacts_built"] == 0) / 1000.0
            out["index_call_ms"] = summary([o["wall_ms"] for o in build])
            out["artifacts_n"] = raw["artifacts"]["n"]
    else:
        ok = [r for r in raw["requests"] if check_request_ok(r)]
        trig = [r["recv_ms"] - r["send_ms"] for r in ok if r["endpoint"] == "/trigger-etl"]
        reads = [r["recv_ms"] - r["send_ms"] for r in ok if r["endpoint"] in READS]
        out["etl_run_ms"] = summary(trig)
        out["read_ms"] = summary(reads)
        out["serve_rps"] = len(ok) / raw["timed_s"]
    return out


def _sum_counters(ops, *keys):
    tot = {}
    for o in ops:
        for k in keys:
            for name, v in (o.get(k) or {}).items():
                tot[name] = tot.get(name, 0) + v
    return tot


def _family(name):
    return name.split("_", 1)[0]


def per_layer(workload, raw, input_bytes, cores):
    """Every per-layer metric; 0 where the workload does not exercise the
    layer."""
    m = {k: 0.0 for k in per_layer_units()}
    m["session.start_ms"] = raw["session_start_ms"]
    art = raw["artifacts"]
    m["artifacts.n"] = art["n"]
    m["artifacts.build_s"] = art["build_s"]
    per = art.get("per_artifact_s") or {}
    m["artifacts.slowest_s"] = max(per.values()) if per else 0.0
    m["artifacts.bytes"] = art.get("bytes", 0)
    m["artifacts.bytes_per_input_byte"] = art.get("bytes", 0) / input_bytes if input_bytes else 0.0
    m["jvm.gc_ms"] = raw["jvm"]["gc_ms"]
    m["jvm.heap_peak_mb"] = raw["jvm"]["heap_peak_mb"]
    m["trace.overhead_pct"] = overhead_pct(workload, raw)
    if workload == "suite":
        ops = fastest(raw, traced=True)
        m["construct.ms"] = sum(o["construct_ms"] for o in ops)
        cc = [o.get("construct_counters", {}) for o in ops]
        m["construct.jobs"] = sum(c.get("jobs", 0) for c in cc)
        m["construct.queries_with_jobs"] = sum(1 for c in cc if c.get("jobs", 0) > 0)
        m["plan.analysis_ms"] = sum(o["analysis_ms"] for o in ops)
        m["plan.optimization_ms"] = sum(o["optimization_ms"] for o in ops)
        m["plan.planning_ms"] = sum(o["planning_ms"] for o in ops)
        exec_ms = sum(o["exec_ms"] for o in ops)
        _exec(m, _sum_counters(ops, "plan_counters", "exec_counters"), exec_ms, cores)
        m["cache.persisted_rdds_after"] = sum(o.get("persisted_rdds_after", 0) for o in ops)
        for o in ops:
            f = _family(o["name"])
            if f in FAMILIES:
                m[f"family.{f}.construct_ms"] += o["construct_ms"]
                m[f"family.{f}.plan_ms"] += o["plan_ms"]
                m[f"family.{f}.exec_ms"] += o["exec_ms"]
    else:
        _etl_serve_layers(m, raw, cores)
    return m


def _exec(m, c, exec_ms, cores):
    m["exec.ms"] = exec_ms
    for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
              "gc_ms", "input_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{k}"] = c.get(k, 0)
    m["exec.busy_ratio"] = c.get("executor_run_ms", 0) / (exec_ms * cores) if exec_ms else 0.0


def _etl_serve_layers(m, raw, cores):
    ok = [r for r in raw["requests"] if check_request_ok(r)]
    trig = [r for r in ok if r["endpoint"] == "/trigger-etl"]
    server = [r["duration_sec"] * 1000.0 for r in trig]
    m["serve.trigger_server_ms"] = median_or_zero(server)
    m["serve.trigger_overhead_ms"] = median_or_zero(
        [(r["recv_ms"] - r["send_ms"]) - r["duration_sec"] * 1000.0 for r in trig])
    for ep, key in (("/sample-data", "sample"), ("/verify-results", "verify"),
                    ("/status", "status")):
        m[f"serve.{key}_p50_ms"] = median_or_zero(
            [r["recv_ms"] - r["send_ms"] for r in ok if r["endpoint"] == ep])
    spans = [(r["send_ms"], r["recv_ms"]) for r in raw["requests"]
             if r["endpoint"] == "/trigger-etl"]
    reads = [r for r in raw["requests"] if r["endpoint"] in READS]
    overlapped = [r for r in reads if any(a <= r["send_ms"] < b for a, b in spans)]
    m["serve.read_overlap_share"] = len(overlapped) / len(reads) if reads else 0.0
    runs = [p for p in raw.get("pipeline_runs", []) if p["status"] == "success"]
    for part in PIPELINE_PARTS:
        m[f"pipeline.{part}_ms"] = median_or_zero([p["ms"] for p in runs if p["layer"] == part])
    window = raw.get("window") or {}
    _exec(m, window.get("counters", {}), window.get("sql_ms", 0), cores)
