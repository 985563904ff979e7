"""The benchmark's own tests: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import copy
import json
import os
import re
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
SCALA = os.path.join(HERE, "src", "main", "scala", "perfbench")


def read(*parts):
    with open(os.path.join(HERE, *parts)) as f:
        return f.read()


def bench_json():
    return json.loads(read("..", "BENCHMARK.json"))


def counters(jobs):
    return {"jobs": jobs, "stages": jobs, "tasks": 4 * jobs, "executor_run_ms": 40,
            "executor_cpu_ms": 30.5, "gc_ms": 1, "input_bytes": 1000,
            "shuffle_read_bytes": 10, "shuffle_write_bytes": 10, "spill_bytes": 0}


def env():
    return {"cpus_effective": 4, "cgroup_quota_cores": None, "max_heap_mb": 4096,
            "spark_version": "4.1.2", "java_version": "17", "session_conf": {}}


def raw_suite():
    ops, checks = [], []
    for i, name in enumerate(["rel_a", "win_b", "gold_c"]):
        checks.append({"name": name, "ok": True, "rows": 10 + i, "digest": f"d{i}",
                       "schema": "struct<a:int>"})
        for p in range(2):
            ops.append({"name": name, "ok": True, "pass": p, "traced": p == 0, "construct_ms": 5.0,
                        "plan_ms": 2.0, "exec_ms": 90.0 + i + 10 * p,
                        "wall_ms": 97.0 + i + 10 * p, "analysis_ms": 1.0,
                        "optimization_ms": 1.0, "planning_ms": 1.0, "artifacts_built": 0,
                        "construct_counters": counters(i), "plan_counters": counters(0),
                        "exec_counters": counters(3), "persisted_rdds_after": i})
    build = [{"name": n, "ok": True, "wall_ms": w, "analysis_ms": 1.0, "artifacts_built": b,
              "artifact_build_s": b * 0.5, "schema": "struct<a:int>",
              "build_counters": counters(b)}
             for n, w, b in [("rel_a", 900.0, 2), ("win_b", 40.0, 0)]]
    return {"seed": 1, "setup_s": 12.5, "timed_s": 0.6, "session_start_ms": 3000.0,
            "checks": checks, "ops": ops, "index_build": build, "env": env(),
            "artifacts_at_setup": 0, "artifacts_after_timed": 0,
            "artifacts": {"n": 2, "build_s": 1.0, "per_artifact_s": {"x": 0.6, "y": 0.4},
                          "bytes": 5000},
            "jvm": {"gc_ms": 20, "heap_peak_mb": 700.5}}


def expected_queries():
    return {f"{n}": {"rows": 10 + i, "digest": f"d{i}", "schema": "struct<a:int>"}
            for i, n in enumerate(["rel_a", "win_b", "gold_c"])}


def expected_etl():
    return {"layers_processed": ["bronze", "silver", "gold"],
            "inventory_rows": {"bronze_lineitem": 5, "gold_sales_summary": 2},
            "gold_tables": ["gold_sales_analytics"], "sample_rows": 5}


def request(i, ep, send, recv):
    r = {"id": i, "client": "reader", "endpoint": ep, "send_ms": send, "recv_ms": recv,
         "code": 200, "error": None, "status": "success", "traced": i % 2 == 1}
    if ep == "/trigger-etl":
        r.update(client="trigger", layers_processed=["bronze", "silver", "gold"],
                 duration_sec=(recv - send) / 2000.0)
    elif ep == "/verify-results":
        r["tables"] = {"bronze_lineitem": 5, "gold_sales_summary": 2}
    elif ep == "/sample-data":
        r["samples"] = {"gold_sales_analytics": 5}
    else:
        r["status"] = "running"
    return r


def raw_etl_serve():
    reqs = [request(1, "/trigger-etl", 0.0, 2000.0), request(2, "/status", 10.0, 2100.0),
            request(3, "/trigger-etl", 2000.0, 4200.0), request(4, "/sample-data", 2100.0, 4500.0),
            request(5, "/verify-results", 4500.0, 7000.0)]
    runs = [{"rep": rep, "layer": layer, "ms": ms + rep, "status": "success", "error": None}
            for rep in range(3)
            for layer, ms in (("bronze", 100.0), ("silver", 200.0), ("gold", 300.0),
                              ("inventory", 400.0))]
    return {"seed": 1, "trace": True, "setup_s": 15.0, "timed_s": 7.0,
            "session_start_ms": 3000.0,
            "setup_requests": [request(0, "/trigger-etl", -9000.0, -1000.0)],
            "requests": reqs, "env": env(), "pipeline_runs": runs,
            "window": {"counters": counters(20), "sql_ms": 3000},
            "artifacts": {"n": 0, "build_s": 0.0}, "jvm": {"gc_ms": 20, "heap_peak_mb": 700.5}}


RAW = {"suite": raw_suite, "etl_serve": raw_etl_serve}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail_level(221), "95")
        self.assertEqual(metrics.beyond(221, "95"), 11)
        self.assertEqual(metrics.tail_level(100), "90")
        self.assertEqual(metrics.beyond(100, "90"), 10)
        self.assertEqual(metrics.tail_level(99), "75")
        self.assertEqual(metrics.tail_level(1000), "99")
        self.assertEqual(metrics.tail_level(10000), "99.9")
        self.assertEqual(metrics.tail_level(20), "50")
        self.assertIsNone(metrics.tail_level(19))

    def test_summary_reports_its_sample_count(self):
        s = metrics.summary([float(x) for x in range(1, 101)])
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["tail_p"], "90")
        self.assertEqual(s["tail"], 90.0)
        self.assertEqual(s["beyond_tail"], 10)
        self.assertEqual(s["p50"], 50.5)
        few = metrics.summary([1.0, 2.0, 3.0])
        self.assertEqual(few["n"], 3)
        self.assertIsNone(few["tail"])


class Names(unittest.TestCase):
    def test_metric_names_match_the_pattern(self):
        b = bench_json()
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        names += [w["name"] for w in b["workloads"]]
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)
            self.assertLessEqual(len(n), 64)
        self.assertEqual(len(names), len(set(names)))
        for bad in ("", "a b", "x/y", "é", "q:1"):
            self.assertIsNone(metrics.NAME_RE.match(bad))


class EveryMetricPrinted(unittest.TestCase):
    def test_each_workload_prints_every_declared_metric_with_its_unit(self):
        b = bench_json()
        self.assertEqual({w["name"] for w in b["workloads"]}, set(RAW))
        e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in b["per_layer"]}
        for w, make in RAW.items():
            raw = make()
            line = metrics.result(metrics.end_to_end(w, raw), metrics.E2E_UNITS, 1, 0)
            self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()}, e2e, w)
            for k, v in line["metrics"].items():
                self.assertGreater(v["value"], 0, f"{w} {k}")
            values = metrics.per_layer(w, raw, input_bytes=1000, cores=4)
            line = metrics.result(values, metrics.per_layer_units(), 1, 0)
            self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()}, layer, w)
            json.dumps(line)

    def test_layers_each_workload_exercises(self):
        s = metrics.per_layer("suite", raw_suite(), 1000, 4)
        self.assertEqual(s["construct.jobs"], 3)
        self.assertEqual(s["construct.queries_with_jobs"], 2)
        self.assertEqual(s["exec.jobs"], 9)
        self.assertEqual(s["family.rel.exec_ms"], 90.0)
        self.assertEqual(s["artifacts.slowest_s"], 0.6)
        self.assertEqual(s["artifacts.bytes_per_input_byte"], 5.0)
        d = metrics.detail("suite", raw_suite(), 5, 0)
        self.assertEqual(d["index_build_s"], 0.9)
        self.assertEqual(d["query_ms"]["n"], 3)
        e = metrics.per_layer("etl_serve", raw_etl_serve(), 1000, 4)
        self.assertEqual(e["pipeline.gold_ms"], 301.0)
        self.assertEqual(e["pipeline.inventory_ms"], 401.0)
        self.assertEqual(e["serve.read_overlap_share"], 2 / 3)
        self.assertEqual(e["serve.trigger_server_ms"], 1050.0)

    def test_overhead_compares_traced_and_untraced_stretches_of_one_run(self):
        self.assertAlmostEqual(metrics.overhead_pct("suite", raw_suite()),
                               100.0 * (294.0 - 324.0) / 324.0)
        # requests 1, 3, 5 traced (2000, 2200, 2500 ms); 2, 4 not (2090, 2400 ms)
        self.assertAlmostEqual(metrics.overhead_pct("etl_serve", raw_etl_serve()),
                               100.0 * (6700.0 / 3 - 2245.0) / 2245.0)

    def test_a_query_counts_at_its_fastest_pass(self):
        self.assertEqual(sorted(metrics.op_latencies("suite", raw_suite())), [97.0, 98.0, 99.0])
        raw = raw_suite()
        raw["ops"][1]["ok"] = False
        self.assertEqual(sorted(metrics.op_latencies("suite", raw)), [98.0, 99.0])
        self.assertIn("timed run failed", metrics.verdict("suite", raw, expected_queries(), [])[2]["rel_a"])


class OutputChecks(unittest.TestCase):
    def test_clean_runs_pass(self):
        self.assertEqual(metrics.verdict("suite", raw_suite(), expected_queries(),
                                         ["rel_a", "win_b", "gold_c", "build:rel_a"])[1], 0)
        self.assertEqual(metrics.verdict("etl_serve", raw_etl_serve(), expected_etl(), [])[1], 0)

    def test_a_corrupted_expected_digest_is_caught(self):
        exp = expected_queries()
        exp["win_b"]["digest"] = "d1-corrupted"
        attempted, failed, failures = metrics.verdict("suite", raw_suite(), exp, [])
        self.assertEqual((attempted, failed), (5, 1))
        self.assertIn("digest", failures["win_b"])
        line = metrics.result(metrics.end_to_end("suite", raw_suite()), metrics.E2E_UNITS,
                              attempted, failed)
        self.assertFalse(line["correct"])

    def test_committed_expected_values_are_checked_too(self):
        committed = json.loads(read("expected", "queries.json"))["queries"]
        name = sorted(committed)[0]
        raw = raw_suite()
        raw["checks"][0].update(name=name, **copy.deepcopy(committed[name]))
        raw["ops"][0]["name"] = raw["ops"][1]["name"] = name
        self.assertNotIn(name, metrics.verdict("suite", raw, committed, [])[2])
        committed[name]["digest"] = "0-0"
        self.assertIn("digest", metrics.verdict("suite", raw, committed, [])[2][name])

    def test_a_missing_query_is_a_failed_operation(self):
        attempted, failed, failures = metrics.verdict(
            "suite", raw_suite(), expected_queries(), ["rel_a", "win_b", "gold_c", "nope"])
        self.assertEqual((attempted, failed), (6, 1))
        self.assertEqual(failures["nope"], "did not run")

    def test_bad_responses_fail(self):
        exp = expected_etl()
        for mutate in (lambda r: r.update(code=500),
                       lambda r: r.update(layers_processed=["bronze", "silver"]),
                       lambda r: r.update(status="error")):
            raw = raw_etl_serve()
            mutate(raw["requests"][0])
            self.assertEqual(metrics.verdict("etl_serve", raw, exp, [])[1], 1)
        raw = raw_etl_serve()
        raw["requests"][4]["tables"]["gold_sales_summary"] = 3
        raw["requests"][3]["samples"]["gold_sales_analytics"] = 4
        self.assertEqual(metrics.verdict("etl_serve", raw, exp, [])[1], 2)

    def test_a_traced_run_without_its_pipeline_timings_fails(self):
        exp = expected_etl()
        self.assertEqual(metrics.verdict("etl_serve", raw_etl_serve(), exp, [])[1], 0)
        raw = raw_etl_serve()
        raw["pipeline_runs"] = []
        attempted, failed, failures = metrics.verdict("etl_serve", raw, exp, [])
        self.assertEqual(failed, 4)
        self.assertEqual(failures["pipeline:silver"], "no timed run")
        raw = raw_etl_serve()
        raw["pipeline_runs"][5].update(status="error", error="boom")
        self.assertIn("boom", metrics.verdict("etl_serve", raw, exp, [])[2]["pipeline1:silver"])
        # an untraced run times no pipeline layer and needs none
        raw = raw_etl_serve()
        raw.update(trace=False, pipeline_runs=[])
        self.assertEqual(metrics.verdict("etl_serve", raw, exp, [])[1], 0)


class CommittedTracedRuns(unittest.TestCase):
    """The traced runs committed in results/: spans that add up, the full
    index build outside the timed part, every per-layer metric."""

    def load(self, workload):
        raw = json.loads(read("results", f"{workload}.raw.json"))
        spans = [json.loads(l) for l in read("results", f"{workload}.spans.jsonl").splitlines()]
        lines = read("results", f"{workload}.out").splitlines()
        return raw, spans, json.loads(lines[-2]), json.loads(lines[-1])

    def test_query_spans_add_up_to_the_timed_wall(self):
        _, spans, _, _ = self.load("suite")
        by_id = {s["id"]: s for s in spans}
        roots = [s for s in spans if s["name"] == "query"]
        self.assertTrue(roots)
        for r in roots:
            parts = [s for s in spans if s["parent"] == r["id"]]
            self.assertEqual(sorted(p["name"] for p in parts), ["construct", "exec", "plan"])
            self.assertTrue(all(p["trace"] == r["trace"] for p in parts))
            wall = r["end_ms"] - r["start_ms"]
            total = sum(p["end_ms"] - p["start_ms"] for p in parts)
            self.assertLessEqual(abs(total - wall), 0.05 * wall, r["trace"])
        self.assertTrue(all(s["parent"] == 0 or s["parent"] in by_id for s in spans))

    def test_suite_run_builds_the_index_only_when_asked(self):
        raw, _, detail, result = self.load("suite")
        self.assertTrue(result["correct"])
        self.assertEqual(result["metrics"]["artifacts.n"]["value"], 37)
        self.assertEqual(raw["artifacts_at_setup"], 0)
        self.assertEqual(raw["artifacts_after_timed"], 0)
        self.assertIn("construct_jobs_by_query", detail)
        for w in ("suite", "etl_serve"):
            _, _, detail, result = self.load(w)
            self.assertEqual(set(result["metrics"]), set(metrics.per_layer_units()), w)
            self.assertIn("trace.overhead_pct", result["metrics"])
            self.assertTrue(result["correct"], w)
            self.assertRegex(detail["run_record"]["commit"] or "", r"^[0-9a-f]{40}$", w)

    def test_records_name_paths_inside_the_checkout_only(self):
        for w in ("suite", "etl_serve"):
            for f in (f"{w}.raw.json", f"{w}.out"):
                self.assertNotRegex(read("results", f), r'[="]/[^"]*\.bench_build', f)

    def test_suite_exercises_construction_jobs_and_the_cache(self):
        _, _, detail, result = self.load("suite")
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertGreater(m["construct.jobs"], 0)
        self.assertGreater(m["construct.queries_with_jobs"], 0)
        self.assertGreater(m["cache.persisted_rdds_after"], 0)
        by_query = detail["construct_jobs_by_query"]
        self.assertEqual(len(by_query), m["construct.queries_with_jobs"])
        self.assertEqual(sum(by_query.values()), m["construct.jobs"])

    def test_etl_serve_times_every_pipeline_layer(self):
        raw, spans, _, result = self.load("etl_serve")
        runs = raw["pipeline_runs"]
        self.assertEqual({p["layer"] for p in runs}, set(metrics.PIPELINE_PARTS))
        self.assertTrue(all(p["status"] == "success" for p in runs))
        for part in metrics.PIPELINE_PARTS:
            self.assertGreater(result["metrics"][f"pipeline.{part}_ms"]["value"], 0, part)
        self.assertEqual(sum(1 for s in spans if s["name"].startswith("pipeline.")), len(runs))


class ListenerDiscipline(unittest.TestCase):
    """Listener counters are read only after draining the bus, never after
    a sleep."""

    def sources(self):
        return {f: read(SCALA, f) for f in os.listdir(SCALA) if f.endswith(".scala")}

    def test_no_sleeps(self):
        for f, src in self.sources().items():
            self.assertNotIn("Thread.sleep", src, f)
            self.assertNotIn("TimeUnit", src, f)

    def test_the_only_read_path_drains_first(self):
        probe = self.sources()["Probe.scala"]
        cls = probe[probe.index("final class Probe"):probe.index("object Probe")]
        public = [m.group(0) for m in re.finditer(
            r"^  (?!private|override)(?:def|val|var) \w+", cls, re.M)]
        self.assertEqual(public, ["  def drained"])
        body = cls[cls.index("def drained"):]
        self.assertLess(body.index("drainListenerBus"), body.index("new Probe.View"))
        self.assertIn("final class View private[Probe]", probe)
        for f, src in self.sources().items():
            if f != "Probe.scala":
                self.assertNotIn("new Probe.View", src, f)
                self.assertNotIn("byTag", src, f)


if __name__ == "__main__":
    unittest.main()
