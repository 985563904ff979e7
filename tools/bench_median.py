#!/usr/bin/env python3
"""Median-of-3 bench runner — the round-13 noise-convention, automated.

Round 12 burned a judge directive attributing an sf0.1 total swing that
three same-source reruns later proved to be host variance (±11% for
identical bytes). The convention that came out of it: bench claims at a
round's final HEAD come from THREE runs, reported as per-query medians
with the observed spread, so a future card never again mistakes box
noise for a regression.

Usage:
  python3 tools/bench_median.py SF_DIR OUT.json [N_RUNS]

Runs graft.Bench N times (default 3) against SF_DIR via tools/run_main.sh
(cold JVM per run, same as the driver), reads each run's full-detail
output from a per-run temp file, and writes OUT.json:

  {"metric": "...", "sf_dir": ..., "runs": N,
   "value": <median total>, "value_min": ..., "value_max": ...,
   "spread_pct": 100*(max-min)/median,
   "queries": {name: {"median": s, "min": s, "max": s}},
   "totals": [t1, t2, t3],
   "artifacts": {"n": <median artifact count>,
                 "build_sec": {"median": s, "min": s, "max": s},
                 "per_artifact_sec": {name: <median s>}}}

The index build (Bench's write-once artifacts, built during warm-up and
outside every per-query time) is kept as its own line item, so the
end-to-end cost is build plus queries.

Any query erroring in any run keeps the string "error" and fails the exit
code, so a flaky query can't hide inside a median.
"""
import json
import os
import statistics
import subprocess
import sys
import tempfile


def run_once(sf_dir, i):
    out = os.path.join(tempfile.gettempdir(), f"graft_bench_median_{i}.json")
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_BENCH_OUT=out)
    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.run([os.path.join(here, "run_main.sh"), "graft.Bench"],
                          env=env, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
        raise SystemExit(f"bench run {i} failed (exit {proc.returncode})")
    with open(out) as f:
        return json.load(f)


def artifact_summary(runs):
    arts = [r.get("artifacts", {}) for r in runs]
    builds = [float(a.get("build_sec", 0.0)) for a in arts]
    names = sorted({k for a in arts for k in a.get("per_artifact_sec", {})})
    per = {k: round(statistics.median(a["per_artifact_sec"][k] for a in arts
                                      if k in a.get("per_artifact_sec", {})), 4)
           for k in names}
    return {"n": statistics.median_low(int(a.get("n", 0)) for a in arts),
            "build_sec": {"median": round(statistics.median(builds), 3),
                          "min": round(min(builds), 3),
                          "max": round(max(builds), 3)},
            "per_artifact_sec": per}


def main():
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    sf_dir, out_path = sys.argv[1], sys.argv[2]
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    runs = [run_once(sf_dir, i) for i in range(n_runs)]
    names = sorted({q for r in runs for q in r.get("queries", {})
                    if q != "_others"})
    queries, errors = {}, []
    for q in names:
        vals = [r.get("queries", {}).get(q) for r in runs]
        if any(not isinstance(v, (int, float)) for v in vals):
            queries[q] = "error"
            errors.append(q)
            continue
        queries[q] = {"median": round(statistics.median(vals), 4),
                      "min": round(min(vals), 4),
                      "max": round(max(vals), 4)}
    totals = [float(r.get("value", 0.0)) for r in runs]
    med = statistics.median(totals)
    result = {
        "metric": runs[0].get("metric", "bench_seconds_median3"),
        "sf_dir": sf_dir, "sf": runs[0].get("sf"), "runs": n_runs,
        "unit": "sec",
        "value": round(med, 3),
        "value_min": round(min(totals), 3),
        "value_max": round(max(totals), 3),
        "spread_pct": round(100.0 * (max(totals) - min(totals)) / med, 2)
        if med else None,
        "n_queries": runs[0].get("n_queries", len(names)),
        "errors": errors,
        "queries": queries,
        "totals": [round(t, 3) for t in totals],
        "artifacts": artifact_summary(runs),
    }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{out_path}: median {result['value']}s over {n_runs} runs "
          f"(spread {result['spread_pct']}%, "
          f"min {result['value_min']} / max {result['value_max']}), "
          f"{len(names)} queries, {len(errors)} errors, "
          f"{result['artifacts']['n']} artifacts built in a median "
          f"{result['artifacts']['build_sec']['median']}s")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
