#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per workload and metric.

    python3 perfbench/compare.py <base results dir> <change results dir>

Each directory holds the run records perfbench/run.py writes (by default
under .bench_build/results/<workload>/); copy that directory aside to keep
a set. For every workload and end-to-end metric it prints each side's
median and quartiles, the pairs the change won (runs paired by seed, ties
count for neither) and the verdict against the metric's bound in
BENCHMARK.json. From traced runs it prints the per-layer median deltas.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d):
    """{workload: {trace: [record, ...]}} from a results directory."""
    out = {}
    for f in sorted(Path(d).rglob("*.json")):
        r = json.loads(f.read_text())
        out.setdefault(r["workload"], {}).setdefault(r["trace"], []).append(r)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def paired(a, b):
    """Runs of a and b paired by seed, falling back to run order."""
    bs = {r["seed"]: r for r in b}
    pairs = [(r, bs[r["seed"]]) for r in a if r["seed"] in bs]
    return pairs if pairs else list(zip(a, b))


def verdict(va, vb, bound, lower_better, won, n_pairs):
    """The change is worse when its median is worse than the base's by more
    than the bound; better only when it wins nine tenths of the pairs and
    the medians differ by more than the base's own quartile spread."""
    ma, mb = statistics.median(va), statistics.median(vb)
    if ma == 0:
        # no relative scale (a leak count that reached zero): any rise is worse
        worse = mb > 0 if lower_better else mb < 0
        return "WORSE than bound" if worse else "within bound"
    qa = quartiles(va)
    spread = (qa[1] - qa[0]) / ma
    gain = (ma - mb) / ma if lower_better else (mb - ma) / ma
    all_better = (max(vb) < min(va)) if lower_better else (min(vb) > max(va))
    if -gain > bound:
        return "WORSE than bound"
    if spread > bound and not all_better:
        return "unresolved (base spread above bound)"
    if gain > spread and n_pairs and won >= 0.9 * n_pairs:
        return "better"
    return "within bound"


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    a, b = load(sys.argv[1]), load(sys.argv[2])
    for wl in sorted(set(a) & set(b)):
        ra, rb = a[wl].get(0, []), b[wl].get(0, [])
        if ra and rb:
            print(f"== {wl}: {len(ra)} base runs, {len(rb)} change runs")
            for m in bench["end_to_end"]:
                k, lower = m["name"], m["better"] == "lower"
                va = [r["e2e"][k] for r in ra]
                vb = [r["e2e"][k] for r in rb]
                pairs = paired(ra, rb)
                won = sum(1 for x, y in pairs
                          if (y["e2e"][k] < x["e2e"][k] if lower else y["e2e"][k] > x["e2e"][k]))
                qa, qb = quartiles(va), quartiles(vb)
                print(f"  {k:12s} base {statistics.median(va):10.4f} [{qa[0]:.4f}, {qa[1]:.4f}]"
                      f"  change {statistics.median(vb):10.4f} [{qb[0]:.4f}, {qb[1]:.4f}] {m['unit']}"
                      f"  won {won}/{len(pairs)}  {verdict(va, vb, m['bound'], lower, won, len(pairs))}")
        ta, tb = a[wl].get(1, []), b[wl].get(1, [])
        if ta and tb:
            print(f"== {wl} layers: {len(ta)} base traced runs, {len(tb)} change traced runs")
            for m in bench["per_layer"]:
                k = m["name"]
                if any(k not in r["layers"] for r in ta + tb):
                    continue  # recorded by another version of the benchmark
                ma = statistics.median(r["layers"][k] for r in ta)
                mb = statistics.median(r["layers"][k] for r in tb)
                rel = f"{(mb - ma) / ma:+.1%}" if ma else "n/a"
                print(f"  {k:26s} {ma:12.4f} -> {mb:12.4f} {m['unit']:6s} {mb - ma:+.4f} ({rel})")


if __name__ == "__main__":
    main()
