#!/usr/bin/env python3
"""Compare two sets of benchmark results, metric by metric and layer by layer.

    python3 perfbench/compare.py <before> <after>

Each argument is a results directory as run.py leaves it
(.bench_build/perfbench/results): <workload>/trace<0|1>/seed<n>.json.
Copy it aside between the two trees you compare.

For every workload and end-to-end metric it prints the median and
quartiles of each set and the change of the median. A change beyond the
metric's bound (BENCHMARK.json) in its bad direction is flagged WORSE,
in its good direction "better"; when either set's spread (inter-quartile
distance over median) is wider than the bound the verdict is
"unresolved". It then diffs the traced runs' per-layer medians and
reports the tracing overhead (traced against untraced end-to-end
medians). Exits 1 when any metric is WORSE.
"""
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def load(root, workload, trace):
    d = Path(root) / workload / f"trace{trace}"
    return [json.loads(p.read_text()) for p in sorted(d.glob("seed*.json"))]


def values(results, section, name):
    return [r[section][name]["value"] for r in results
            if name in r.get(section, {})]


def verdict(a, b, bound, better):
    """(verdict, relative change of the median) for one metric."""
    qa, qb = stats.quartiles(a), stats.quartiles(b)
    change = (qb[1] - qa[1]) / qa[1] if qa[1] else float("inf")
    if stats.spread(a) > bound or stats.spread(b) > bound:
        return "unresolved", change
    worse = change > bound if better == "lower" else change < -bound
    improved = change < -bound if better == "lower" else change > bound
    return ("WORSE" if worse else "better" if improved else "same"), change


def fmt_q(xs):
    q1, med, q3 = stats.quartiles(xs)
    return f"{med:10.4g} [{q1:.4g}, {q3:.4g}] n={len(xs)}"


def main(before, after):
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    worse = False
    for wl in [w["name"] for w in bench["workloads"]]:
        a0, b0 = load(before, wl, 0), load(after, wl, 0)
        if a0 and b0:
            print(f"== {wl}: end to end ({len(a0)} vs {len(b0)} runs)")
            for m in bench["end_to_end"]:
                a, b = values(a0, "end_to_end", m["name"]), values(b0, "end_to_end", m["name"])
                if not a or not b:
                    continue
                v, ch = verdict(a, b, m["bound"], m["better"])
                worse |= v == "WORSE"
                print(f"  {m['name']:22s} {fmt_q(a)} -> {fmt_q(b)} "
                      f"{ch:+7.1%} bound {m['bound']:.0%}  {v}")
            details = sorted(set().union(*(r["detail"] for r in a0 + b0)))
            for name in details:
                a, b = values(a0, "detail", name), values(b0, "detail", name)
                if a and b and stats.quartiles(a)[1]:
                    ch = stats.quartiles(b)[1] / stats.quartiles(a)[1] - 1
                    print(f"  ({name:20s} {fmt_q(a)} -> {fmt_q(b)} {ch:+7.1%})")
        a1, b1 = load(before, wl, 1), load(after, wl, 1)
        if a1 and b1:
            print(f"== {wl}: per layer, traced runs ({len(a1)} vs {len(b1)})")
            rows = []
            for m in bench["per_layer"]:
                a, b = values(a1, "per_layer", m["name"]), values(b1, "per_layer", m["name"])
                if not a or not b:
                    continue
                ma, mb = stats.quartiles(a)[1], stats.quartiles(b)[1]
                if ma == 0 and mb == 0:
                    continue
                ch = (mb - ma) / ma if ma else float("inf")
                rows.append((abs(ch), m["name"], ma, mb, ch, m["unit"]))
            for _, name, ma, mb, ch, unit in sorted(rows, reverse=True):
                print(f"  {name:28s} {ma:12.4g} -> {mb:12.4g} {unit:6s} {ch:+8.1%}")
        for label, t0, t1 in (("before", a0, a1), ("after", b0, b1)):
            if t0 and t1:
                parts = []
                for m in bench["end_to_end"]:
                    u, t = values(t0, "end_to_end", m["name"]), values(t1, "end_to_end", m["name"])
                    if u and t and stats.quartiles(u)[1]:
                        parts.append(f"{m['name']} {stats.quartiles(t)[1] / stats.quartiles(u)[1] - 1:+.1%}")
                print(f"  tracing overhead ({label}): " + ", ".join(parts))
    return 1 if worse else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
