#!/usr/bin/env python3
"""A/B pairs of one benchmark workload across two checkouts.

    python3 tools/abpairs.py PARENT_DIR CHANGE_DIR --workload tenant_search --seeds 301-310

Runs `perfbench/run.py` once per seed in each checkout, alternating
which side runs first (even pairs parent first, odd pairs change
first), and prints for every metric the per-pair values, each side's
median and q1-q3, the change's median relative to the parent's, and
how many pairs the change won (ties count for neither side). Beside
each pooled median it prints each side's median over the pairs where
that side ran first and over those where it ran second, so a latency
that depends on run position shows. Metric
directions come from the parent's BENCHMARK.json; `op_p50_ms` (the
raw median the run prints beside `op_p50_ref_ms`) is reported too.

Each checkout builds on its first run (perfbench caches the build in
its own .bench_build). `--trace 1` compares the per-layer table
instead of the end-to-end metrics. Exit code 1 if any run failed, was
incorrect, or printed no result line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

EXTRA = {"op_p50_ms": "lower"}


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run: (result JSON, {metric: value}) or (None, stdout tail)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", trace]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if result is None:
        return None, "\n".join((lines + p.stderr.splitlines())[-20:])
    values = {k: v["value"] for k, v in result.get("metrics", {}).items()}
    # the run's printed detail lines ("[perfbench]   name value unit")
    for l in lines:
        parts = l.split()
        if len(parts) >= 3 and parts[0] == "[perfbench]" and parts[1] in EXTRA:
            values[parts[1]] = float(parts[2])
    return result, values


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def positional(pairs, side, metric, first):
    """`side`'s median `metric` over the pairs where it ran first (or second)."""
    xs = [p[2][side][metric] for p in pairs if (p[1] == side) == first]
    return f"{statistics.median(xs):.4f} (n={len(xs)})" if xs else "- (n=0)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range A-B, one pair per seed")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()

    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = dict(EXTRA)
    better.update({m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]})

    sides = {"parent": a.parent, "change": a.change}
    pairs, ok = [], True
    for i, seed in enumerate(seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {}
        for side in order:
            result, values = run(sides[side], a.workload, seed, a.seconds, a.trace)
            if result is None:
                print(f"seed {seed} {side}: no result line\n{values}", file=sys.stderr)
                ok = False
                continue
            bad = not result.get("correct") or result.get("failed", 0)
            ok = ok and not bad
            pair[side] = values
            print(f"seed {seed} {side}: correct={result.get('correct')} "
                  f"failed={result.get('failed')}/{result.get('attempted')}", file=sys.stderr)
        if len(pair) == 2:
            pairs.append((seed, order[0], pair))

    if not pairs:
        print("no complete pair")
        sys.exit(1)
    metrics = [m for m in pairs[0][2]["parent"] if all(m in p[2][s] for p in pairs for s in sides)]
    print(f"{a.workload}: {len(pairs)} pairs, --seconds {a.seconds:g}, --trace {a.trace}")
    for m in metrics:
        par = [p[2]["parent"][m] for p in pairs]
        chg = [p[2]["change"][m] for p in pairs]
        print(f"\n{m} ({better.get(m, '?')} is better)")
        for (seed, first, _), x, y in zip(pairs, par, chg):
            print(f"  seed {seed:>5} ({first} first)  parent {x:>14.4f}  change {y:>14.4f}")
        (pm, cm), (pq, cq) = (statistics.median(par), statistics.median(chg)), (quartiles(par), quartiles(chg))
        rel = f"{(cm - pm) / pm * 100:+.1f}%" if pm else "n/a"
        print(f"  median parent {pm:.4f} [q1-q3 {pq[0]:.4f}-{pq[1]:.4f}]"
              f"  change {cm:.4f} [q1-q3 {cq[0]:.4f}-{cq[1]:.4f}]  change vs parent {rel}")
        print("  by position " + "  ".join(
            f"{side} first {positional(pairs, side, m, True)} second {positional(pairs, side, m, False)}"
            for side in sides))
        if m in better:
            sign = -1 if better[m] == "lower" else 1
            wins = sum(1 for x, y in zip(par, chg) if sign * (y - x) > 0)
            losses = sum(1 for x, y in zip(par, chg) if sign * (y - x) < 0)
            print(f"  change wins {wins}/{len(pairs)} (loses {losses})")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
