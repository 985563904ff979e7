"""Compare two plan records written by graft.PlanRecord.

    python3 tools/plan_diff.py parent.jsonl change.jsonl

Each record holds one JSON line per Spark execution: the query that set it
off, its normalized optimized logical plan and its planned physical
operators. Within each query the two records are compared as multisets of
plans, since the order in which executions finish is not part of the
claim. Every query whose plans differ is printed with each unmatched plan
of each side and its own planned physical operators. The query is marked
"same operators" when the multisets of operator lists of its unmatched
plans are equal on the two sides (a spelling-only difference) and
"different operators" when they are not. Exit status 0 when every query
matches, 1 otherwise.
"""
import collections
import json
import sys


def load(path):
    """query -> Counter of (plan, ops) tuples."""
    out = collections.defaultdict(collections.Counter)
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            r = json.loads(line)
            out[r["query"]][(r["plan"], tuple(r["ops"]))] += 1
    return out


def plans(side):
    """Counter of plans, operators dropped."""
    out = collections.Counter()
    for (p, _), n in side.items():
        out[p] += n
    return out


def unmatched(side, other, excess):
    """The (plan, ops) executions of `side` left over once `other` is matched
    plan by plan: `excess[p]` of plan p, taking first the operator lists the
    other side does not have for p, so each keeps the ops it was recorded
    with."""
    rows = []
    for p, k in excess.items():
        mine = collections.Counter({o: n for (q, o), n in side.items() if q == p})
        theirs = collections.Counter({o: n for (q, o), n in other.items() if q == p})
        ops = list((mine - theirs).elements()) + list((mine & theirs).elements())
        rows.extend((p, o) for o in ops[:k])
    return rows


def diff(parent, change):
    """[(query, [(plan, ops)] only in parent, [(plan, ops)] only in change)].
    Plans are compared alone; the ops are carried for the report."""
    rows = []
    for q in sorted(set(parent) | set(change)):
        pa, pc = parent.get(q, collections.Counter()), change.get(q, collections.Counter())
        a, b = plans(pa), plans(pc)
        if a == b:
            continue
        rows.append((q, unmatched(pa, pc, a - b), unmatched(pc, pa, b - a)))
    return rows


def report(rows, out=sys.stdout):
    for q, only_a, only_b in rows:
        print(f"== {q}: {len(only_a)} parent-only, {len(only_b)} change-only", file=out)
        if only_a and only_b:
            same = (collections.Counter(o for _, o in only_a)
                    == collections.Counter(o for _, o in only_b))
            print("-- " + ("same operators" if same else "different operators"), file=out)
        for mark, side in (("<", only_a), (">", only_b)):
            for plan, ops in side:
                print(f"{mark} ops: {', '.join(ops)}", file=out)
                print(f"{mark} " + plan.replace("\n", f"\n{mark} "), file=out)


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    parent, change = load(argv[1]), load(argv[2])
    rows = diff(parent, change)
    report(rows)
    n = sum(sum(c.values()) for c in parent.values())
    m = sum(sum(c.values()) for c in change.values())
    print(f"{len(rows)} of {len(set(parent) | set(change))} queries differ "
          f"({n} parent executions, {m} change executions)")
    return 1 if rows else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
