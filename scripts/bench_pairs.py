#!/usr/bin/env python3
"""Run one benchmark workload alternately on two checkouts and compare them.

    python3 scripts/bench_pairs.py <parent-checkout> <change-checkout> <workload> <seed>... \\
        [--seconds 6] [--trace 0]

For each seed, perfbench/run.py runs once in each checkout; the side that
runs first alternates from pair to pair. Each checkout builds into its own
directory (CARGO_TARGET_DIR=<checkout>/.bench_build), so the two sides never
share classes. The script prints one line per run, then, for every
end-to-end metric that BENCHMARK.json names, each side's median and
quartiles, the change's wins out of the complete pairs (ties count for
neither side), the median's relative change against the metric's bound, and
the pair-rule verdict: a gain needs wins in at least nine tenths of the
pairs AND a median gap wider than the parent's interquartile range.

Exit code: 0 when every run finished and was correct, 1 otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds, trace):
    """One perfbench run; returns (correct, {metric: value}) or None on failure."""
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(checkout, ".bench_build"))
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True)
    values = {}
    result = None
    for line in p.stdout.splitlines():
        parts = line.split()
        if len(parts) == 4 and parts[0] == "metric":
            values[parts[1]] = float(parts[2])
        elif line.startswith("{"):
            result = json.loads(line)
    if result is None:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        return None
    for name, m in result["metrics"].items():
        values.setdefault(name, m["value"])
    return result["correct"] and result["failed"] == 0 and p.returncode == 0, values


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("seeds", nargs="+", type=int)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]

    runs = {"parent": [], "change": []}
    ok = True
    for k, seed in enumerate(a.seeds):
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_once(sides[side], a.workload, seed, a.seconds, a.trace)
            if r is None or not r[0]:
                ok = False
            values = r[1] if r else None
            runs[side].append(values)
            shown = " ".join(f"{m['name']}={values.get(m['name'], float('nan')):.4g}" for m in e2e) if values else "FAILED"
            print(f"pair {k + 1} seed {seed} {side}: {shown}" + ("" if r and r[0] else " (not correct)"), flush=True)

    print(f"\n{a.workload}, {len(a.seeds)} pairs, --seconds {a.seconds:g} --trace {a.trace}")
    for m in e2e:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p[name], c[name]) for p, c in zip(runs["parent"], runs["change"])
                 if p and c and name in p and name in c]
        if not pairs:
            print(f"{name}: no complete pair")
            continue
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        losses = sum(1 for p, c in pairs if (c > p if lower else c < p))
        pm, cm = statistics.median(ps), statistics.median(cs)
        (pq1, pq3), (cq1, cq3) = quartiles(ps), quartiles(cs)
        gap = (pm - cm) if lower else (cm - pm)
        rel = (cm - pm) / pm if pm else 0.0
        worse = -rel if not lower else rel
        gain = wins >= 0.9 * len(pairs) and gap > (pq3 - pq1)
        verdict = "GAIN" if gain else ("WORSE beyond bound" if worse > m["bound"] else "no gain shown")
        print(f"{name}: parent median {pm:.4g} (quartiles {pq1:.4g}-{pq3:.4g}), "
              f"change median {cm:.4g} (quartiles {cq1:.4g}-{cq3:.4g}), "
              f"change {rel:+.1%} (bound {m['bound']:.0%}), wins {wins}/{len(pairs)} losses {losses}, "
              f"parent IQR {pq3 - pq1:.4g}: {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
