#!/usr/bin/env python3
"""Compare runs of two versions layer by layer, and check their outputs.

    python3 perfbench/diff.py --a base1.out base2.out ... --b new1.out new2.out ...

Each file holds the standard output of one `run.py` run: its `run` and
`fingerprint` lines, and last the result JSON.

Outputs: every run of one workload and seed, traced or not, on either
side, must print the same fingerprint for every op, since neither
tracing nor a performance change may change what an op returns. A pair
of a traced and an untraced run of one seed checks the first; runs of
the two versions with one seed check the second.

Metrics: runs are compared with runs of the same kind (traced with
traced, untraced with untraced). Counters (unit `count`) are compared
exactly: every run of a side must agree, and a change between sides is
reported as such. Everything else is compared by median and quartiles
per side, with the change of the medians as a share of side A's.

Exits 1 when fingerprints differ between runs of one workload and seed,
or when a counter differs between the sides or within one side.
"""
import argparse
import json
import statistics
import sys


def load(path):
    run, prints = {}, {}
    with open(path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    for l in lines[:-1]:
        f = l.split()
        if f[0] == "run":
            run = dict(kv.split("=", 1) for kv in f[1:])
        elif f[0] == "fingerprint" and len(f) == 3:
            prints[f[1]] = f[2]
    if not run:
        sys.exit(f"{path}: no run line; is it the output of perfbench/run.py?")
    res = json.loads(lines[-1])
    metrics = {k: (v["value"], v["unit"]) for k, v in res["metrics"].items()}
    return {"path": path, "key": (run["workload"], run["seed"]), "trace": run["trace"],
            "prints": prints, "metrics": metrics}


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def check_outputs(runs):
    """True when every run of one workload and seed printed the same
    fingerprints as the first such run."""
    ok = True
    first = {}
    for r in runs:
        ref = first.setdefault(r["key"], r)
        for op in sorted(set(ref["prints"]) | set(r["prints"])):
            want, got = ref["prints"].get(op), r["prints"].get(op)
            if want != got:
                ok = False
                print(f"OUTPUT DIFFERS {r['key'][0]} seed {r['key'][1]} op {op}: "
                      f"{ref['path']} {want} vs {r['path']} {got}")
    return ok


def compare(a, b, show_all):
    """Prints the metric table of two sides; True when every counter
    repeats within each side and agrees between them."""
    ok = True
    names = [n for n in a[0] if all(n in r for r in a + b)]
    print(f"{'metric':<28} {'unit':<6} {'A':>32} {'B':>32}  change")
    for n in names:
        unit = a[0][n][1]
        va = [r[n][0] for r in a]
        vb = [r[n][0] for r in b]
        if any(v is None for v in va + vb):
            continue
        if unit == "count":
            sa, sb = sorted(set(va)), sorted(set(vb))
            steady = len(sa) == 1 and len(sb) == 1
            same = steady and sa == sb
            if not steady:
                note = "NOT REPEATABLE"
            elif same:
                note = "="
            else:
                note = f"{sb[0] - sa[0]:+g}"
            ok &= same
            if show_all or not same:
                print(f"{n:<28} {unit:<6} {str(sa):>32} {str(sb):>32}  {note}")
        else:
            qa, qb = quartiles(va), quartiles(vb)
            rel = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            if show_all or qa != qb:
                fa = f"{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
                fb = f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
                print(f"{n:<28} {unit:<6} {fa:>32} {fb:>32}  {rel:+.1%}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", nargs="+", required=True, help="runs of the base version")
    ap.add_argument("--b", nargs="+", required=True, help="runs of the new version")
    ap.add_argument("--all", action="store_true", help="also list rows that did not change")
    args = ap.parse_args()
    a = [load(p) for p in args.a]
    b = [load(p) for p in args.b]
    ok = check_outputs(a + b)
    for trace, kind in (("1", "traced"), ("0", "untraced")):
        ma = [r["metrics"] for r in a if r["trace"] == trace]
        mb = [r["metrics"] for r in b if r["trace"] == trace]
        if ma and mb:
            print(f"== {kind} runs: {len(ma)} A, {len(mb)} B")
            ok &= compare(ma, mb, args.all)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
