"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py --base base/*.json --new new/*.json
    python3 perfbench/compare.py --base runs/*.json      # one set: spreads only

Each file is a record written by ``run.py --out``. For every workload and
every end-to-end metric of BENCHMARK.json it prints each set's median and
quartiles (``statistics.quantiles(n=4)``), the spread (quartile distance
over the median) and a verdict:

* unresolved -- a set's spread exceeds the metric's bound, and the runs do
  not separate completely;
* worse      -- the new median is worse than the base median by more than
  the bound;
* better     -- the new median is better by more than either set's spread;
* unchanged  -- otherwise.

Per-layer metrics of traced records are printed as medians beside the
end-to-end table, with no verdict, and where a set holds traced and
untraced runs of a workload, the tracing overhead: the traced median minus
the untraced median of each end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths) -> dict[str, list[dict]]:
    """Records by workload; a file holds one record or a list of them."""
    by_workload = defaultdict(list)
    for path in paths:
        with open(path) as fh:
            data = json.load(fh)
        for rec in data if isinstance(data, list) else [data]:
            by_workload[rec["workload"]].append(rec)
    return by_workload


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def verdict(spec: dict, base: list[float], new: list[float]) -> str:
    b, n = summary(base), summary(new)
    lower = spec["better"] == "lower"
    gain = (b["median"] - n["median"]) if lower else (n["median"] - b["median"])
    gain /= b["median"] or 1.0
    if max(b["spread"], n["spread"]) > spec["bound"]:
        if (max(new) < min(base)) if lower else (min(new) > max(base)):
            return "better"
        if (min(new) > max(base)) if lower else (max(new) < min(base)):
            return "worse"
        return "unresolved"
    if gain < -spec["bound"]:
        return "worse"
    if gain > max(b["spread"], n["spread"]):
        return "better"
    return "unchanged"


def values(recs, section, name):
    return [r[section][name] for r in recs if name in r.get(section, {})]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="*", default=[])
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.benchmark) as fh:
        bench = json.load(fh)
    base, new = load(args.base), load(args.new)
    worst = 0
    for workload in sorted(set(base) | set(new)):
        print(f"== {workload}")
        for spec in bench["end_to_end"]:
            name = spec["name"]
            b = values([r for r in base[workload] if not r["trace"]], "end_to_end", name)
            n = values([r for r in new.get(workload, []) if not r["trace"]], "end_to_end", name)
            if not b:
                continue
            sb = summary(b)
            line = (f"  {name:<16} base {sb['median']:.4g} [{sb['q1']:.4g}, {sb['q3']:.4g}] "
                    f"spread {sb['spread']:.3f}/{spec['bound']}")
            if n:
                sn = summary(n)
                v = verdict(spec, b, n)
                worst = max(worst, v in ("worse", "unresolved"))
                line += (f" | new {sn['median']:.4g} [{sn['q1']:.4g}, {sn['q3']:.4g}] "
                         f"spread {sn['spread']:.3f} -> {v}")
            elif sb["spread"] > spec["bound"] / 3:
                line += "  (spread above a third of the bound)"
            print(line)
        for label, recs in (("base", base[workload]), ("new", new.get(workload, []))):
            traced = [r for r in recs if r["trace"]]
            plain = [r for r in recs if not r["trace"]]
            if traced and plain:
                over = {
                    s["name"]: statistics.median(values(traced, "end_to_end", s["name"]))
                    - statistics.median(values(plain, "end_to_end", s["name"]))
                    for s in bench["end_to_end"]
                }
                print(f"  tracing overhead ({label}, traced - untraced median): "
                      + " ".join(f"{k}={v:+.3g}" for k, v in over.items()))
        traced = [r for r in base[workload] + new.get(workload, []) if r["trace"]]
        for spec in bench["per_layer"] if traced else []:
            tb = values([r for r in base[workload] if r["trace"]], "per_layer", spec["name"])
            tn = values([r for r in new.get(workload, []) if r["trace"]], "per_layer", spec["name"])
            cells = [f"{statistics.median(v):.4g}" if v else "-" for v in (tb, tn)]
            print(f"  {spec['name']:<34} {spec['unit']:<6} base {cells[0]:>12}  new {cells[1]:>12}")
    return worst


if __name__ == "__main__":
    sys.exit(main())
