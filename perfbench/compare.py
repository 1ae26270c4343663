"""Compare two sets of benchmark result records (JSON lines from run.py).

    python3 perfbench/run.py compare A.jsonl B.jsonl

For each workload and metric it prints both sides' median and quartiles,
the share of pairs B wins (the i-th record of A against the i-th record of
B, so run the two sides alternately), and whether B's median is within the
metric's bound of A's. End-to-end metrics come from untraced records,
per-layer metrics (no bound) from traced ones. When one file holds traced
and untraced records of a workload, it also prints the tracing overhead:
the traced median minus the untraced median of each end-to-end metric.
Exits 1 when an end-to-end metric is worse than its bound, else 0.
"""
import json
import statistics


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def values(records, workload, trace, metric):
    return [r["metrics"][metric]["value"] for r in records
            if r["workload"] == workload and r["trace"] == trace and metric in r["metrics"]]


def summary(xs):
    """(q1, median, q3), as statistics.quantiles(n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def better(a, b, direction):
    """True when b is better than a."""
    return b > a if direction == "higher" else b < a


def pairs_won(a, b, direction):
    """Share of the pairs (a[i], b[i]) that b wins; ties count for neither."""
    n = min(len(a), len(b))
    if n == 0:
        return None
    return sum(1 for i in range(n) if better(a[i], b[i], direction)) / n


def worse_share(med_a, med_b, direction):
    """How much worse b's median is than a's, as a share of a's (<= 0 when
    b is not worse)."""
    if med_a == 0:
        return 0.0
    d = (med_b - med_a) / abs(med_a)
    return -d if direction == "higher" else d


def compare(a, b, spec):
    """Rows of (workload, metric, unit, A summary, B summary, pairs won,
    worse share, within bound or None)."""
    rows = []
    workloads = [w["name"] for w in spec["workloads"]]
    for trace, metrics in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
        for w in workloads:
            for m in metrics:
                va, vb = values(a, w, trace, m["name"]), values(b, w, trace, m["name"])
                if not va or not vb:
                    continue
                sa, sb = summary(va), summary(vb)
                worse = worse_share(sa[1], sb[1], m["better"])
                bound = m.get("bound")
                rows.append((w, m["name"], m["unit"], sa, sb, pairs_won(va, vb, m["better"]),
                             worse, None if bound is None else worse <= bound))
    return rows


def overhead(records, spec):
    """Rows of (workload, metric, untraced median, traced - untraced)."""
    rows = []
    for w in (w["name"] for w in spec["workloads"]):
        for m in spec["end_to_end"]:
            off, on = values(records, w, 0, m["name"]), values(records, w, 1, m["name"])
            if off and on:
                base = statistics.median(off)
                rows.append((w, m["name"], base, statistics.median(on) - base))
    return rows


def main(argv, spec):
    if len(argv) != 2:
        print("usage: run.py compare A.jsonl B.jsonl")
        return 2
    a, b = load(argv[0]), load(argv[1])
    fmt = "{:<14} {:<28} {:>30} {:>30} {:>6} {:>8} {:>7}"
    print(fmt.format("workload", "metric", "A median [q1, q3]", "B median [q1, q3]",
                     "B wins", "B worse", "bound"))
    ok = True
    for w, name, unit, sa, sb, won, worse, within in compare(a, b, spec):
        cell = lambda s: f"{s[1]:.4g} [{s[0]:.4g}, {s[2]:.4g}] {unit}"
        verdict = "-" if within is None else ("ok" if within else "WORSE")
        ok = ok and within is not False
        print(fmt.format(w, name, cell(sa), cell(sb), f"{won:.0%}", f"{worse:+.1%}", verdict))
    for label, recs in (("A", a), ("B", b)):
        for w, name, base, diff in overhead(recs, spec):
            print(f"tracing overhead {label} {w} {name}: {diff:+.4g} on {base:.4g}")
    return 0 if ok else 1
