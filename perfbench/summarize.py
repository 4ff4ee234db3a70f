#!/usr/bin/env python3
"""Summarize a set of benchmark runs: median, quartiles and spread.

    python3 perfbench/summarize.py <dir> [--out summary.json] [--against <dir2>]

<dir> holds one file per run named `<workload>.<seed>.out`: the stdout of
`run.py`, whose last line is the JSON result.  For every workload and
end-to-end metric this prints the median, the first and third quartile
(`statistics.quantiles(values, n=4)`) and the spread (Q3 - Q1) / median,
checked against a third of the metric's bound in BENCHMARK.json.

With `--against <dir2>` it also compares the second set's medians with the
first's: a metric regresses when its median is worse by more than its bound.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def summarize(run_dir):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {}
    for path in sorted(glob.glob(os.path.join(run_dir, "*.out"))):
        workload, seed = os.path.basename(path)[:-4].rsplit(".", 1)
        with open(path) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        if not lines or not lines[-1].startswith("{"):
            runs.setdefault(workload, []).append({"seed": seed, "error": True})
            continue
        res = json.loads(lines[-1])
        res["seed"] = seed
        runs.setdefault(workload, []).append(res)
    out = {"workloads": {}}
    for workload, rs in sorted(runs.items()):
        ok = [r for r in rs if not r.get("error")]
        w = {"runs": len(rs), "errors": len(rs) - len(ok),
             "seeds": [r["seed"] for r in ok],
             "attempted": sum(r["attempted"] for r in ok),
             "failed": sum(r["failed"] for r in ok),
             "all_correct": all(r["correct"] for r in ok)}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in ok
                    if name in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med if med else float("inf")
            w[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                       "bound": bounds[name],
                       "steady": name == "setup_s" or spread < bounds[name] / 3,
                       "values": vals}
        out["workloads"][workload] = w
    return out


def compare(first, second):
    """Second set's median over the first's, per workload and metric, and
    whether it is no worse than the metric's bound allows."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"]
                  for m in json.load(f)["end_to_end"]}
    out = {}
    for workload, w1 in first["workloads"].items():
        w2 = second["workloads"].get(workload, {})
        for name, m1 in w1.items():
            if not isinstance(m1, dict) or not isinstance(w2.get(name), dict):
                continue
            ratio = w2[name]["median"] / m1["median"]
            worse = ratio - 1 if better[name] == "lower" else 1 - ratio
            out.setdefault(workload, {})[name] = {
                "ratio": ratio, "within_bound": worse <= m1["bound"]}
    return out


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("dir")
    ap.add_argument("--out")
    ap.add_argument("--against")
    a = ap.parse_args(argv)
    s = summarize(a.dir)
    if a.against:
        s["against"] = compare(s, summarize(a.against))
    for workload, w in s["workloads"].items():
        print("%s: %d runs, %d errors, failed %d of %d attempted, correct=%s"
              % (workload, w["runs"], w["errors"], w["failed"], w["attempted"],
                 w["all_correct"]))
        for name, m in w.items():
            if isinstance(m, dict):
                print("  %-18s median %12.4f  q1 %12.4f  q3 %12.4f  spread %.4f"
                      " (bound %.2f)%s" % (name, m["median"], m["q1"], m["q3"],
                                          m["spread"], m["bound"],
                                          "" if m["steady"] else "  UNSTEADY"))
    for workload, rows in s.get("against", {}).items():
        for name, c in rows.items():
            print("%s %-18s second/first median %.4f%s" % (
                workload, name, c["ratio"], "" if c["within_bound"] else
                "  WORSE BY MORE THAN THE BOUND"))
    if a.out:
        with open(a.out, "w") as f:
            json.dump(s, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main(sys.argv[1:])
