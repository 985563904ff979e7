#!/usr/bin/env python3
"""Compare alternating parent/change runs of perfbench/run.py, pair by pair.

Usage:
  python3 tools/perfbench_pairs.py --parent P1.out P2.out ... \
      --change C1.out C2.out ... [--benchmark BENCHMARK.json]

Each file is the standard output of one `perfbench/run.py` run: its last
line holding "metrics" is the result, and the line before it (with
"workload") the run record. The i-th parent file and the i-th change file
form pair i; both must be runs of the same workload. Per workload and per
metric it prints:

  - each side's median and quartiles [q1, q3];
  - change/parent ratio of the medians;
  - wins, ties and losses of the change over the pairs (by the metric's
    `better` direction in BENCHMARK.json);
  - gain: "holds" when the change wins at least 9/10 of the pairs and its
    median beats the parent's by more than the parent's IQR (q3 - q1);
  - bound: for an end-to-end metric, "inside" when the change's median is
    no worse than the parent's by more than the metric's bound (a fraction
    of the parent's median), else "OUTSIDE".

It also prints, per side, the runs that were not `correct` or had failed
operations.
"""
import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def read_run(path):
    """(workload, result) of one run's standard output."""
    result, record = None, None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                j = json.loads(line)
            except ValueError:
                continue
            if "metrics" in j:
                result = j
            elif "workload" in j:
                record = j
    if result is None or record is None:
        raise ValueError(f"{path}: no run record and result line")
    return record["workload"], result


def quartiles(values):
    """(q1, median, q3), linearly interpolated between the closest ranks."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def compare(parent, change, better, bound=None):
    """Summary of one metric over pairs: parent[i] against change[i]."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need the same positive number of parent and change values")
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    ties = sum(1 for p, c in zip(parent, change) if p == c)
    pq1, pm, pq3 = quartiles(parent)
    cq1, cm, cq3 = quartiles(change)
    gap = sign * (pm - cm)
    out = {
        "n": len(parent),
        "parent": (pm, pq1, pq3),
        "change": (cm, cq1, cq3),
        "ratio": cm / pm if pm else None,
        "wins": wins,
        "ties": ties,
        "losses": len(parent) - wins - ties,
        "gain": 10 * wins >= 9 * len(parent) and gap > pq3 - pq1,
        "bound": None,
    }
    if bound is not None:
        worse = -gap  # how much worse the change's median is, in the metric's units
        out["bound"] = worse <= bound * abs(pm)
    return out


def directions(benchmark):
    """{metric: (better, bound or None)} from BENCHMARK.json."""
    with open(benchmark) as f:
        b = json.load(f)
    out = {m["name"]: (m["better"], m.get("bound")) for m in b.get("per_layer", [])}
    out.update({m["name"]: (m["better"], m.get("bound")) for m in b["end_to_end"]})
    return out


def fmt(x):
    return f"{x:.4g}"


def report(parent_files, change_files, benchmark):
    if len(parent_files) != len(change_files):
        raise ValueError("give as many change files as parent files")
    dirs = directions(benchmark)
    by_workload = {}
    for pf, cf in zip(parent_files, change_files):
        (pw, pr), (cw, cr) = read_run(pf), read_run(cf)
        if pw != cw:
            raise ValueError(f"{pf} runs {pw} but {cf} runs {cw}")
        by_workload.setdefault(pw, []).append((pf, pr, cf, cr))
    lines = []
    for workload, pairs in sorted(by_workload.items()):
        lines.append(f"== {workload}: {len(pairs)} pairs")
        for side, i in (("parent", 0), ("change", 2)):
            bad = [p[i] for p in pairs
                   if not p[i + 1].get("correct") or p[i + 1].get("failed", 0)]
            lines.append(f"  {side}: {len(pairs) - len(bad)}/{len(pairs)} runs correct "
                         f"with 0 failed" + (f"; not: {', '.join(bad)}" if bad else ""))
        names = [n for n in pairs[0][1]["metrics"]
                 if all(n in p[1]["metrics"] and n in p[3]["metrics"] for p in pairs)]
        for name in names:
            better, bound = dirs.get(name, ("lower", None))
            s = compare([p[1]["metrics"][name]["value"] for p in pairs],
                        [p[3]["metrics"][name]["value"] for p in pairs], better, bound)
            (pm, pq1, pq3), (cm, cq1, cq3) = s["parent"], s["change"]
            ratio = "-" if s["ratio"] is None else f"{s['ratio']:.3f}x"
            bound_txt = "-" if s["bound"] is None else (
                f"inside {bound}" if s["bound"] else f"OUTSIDE {bound}")
            lines.append(
                f"  {name} ({better} is better): parent {fmt(pm)} [{fmt(pq1)}, {fmt(pq3)}]"
                f" change {fmt(cm)} [{fmt(cq1)}, {fmt(cq3)}] {ratio};"
                f" wins {s['wins']}/{s['n']}, ties {s['ties']};"
                f" gain {'holds' if s['gain'] else 'no'}; bound {bound_txt}")
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    a = ap.parse_args(argv)
    try:
        print(report(a.parent, a.change, a.benchmark))
    except ValueError as e:
        sys.exit(f"perfbench_pairs: {e}")


if __name__ == "__main__":
    main()
