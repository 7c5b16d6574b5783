"""Run-to-run spread of the end-to-end metrics, and agreement of two sets.

    python3 perfbench/spread.py --workload tail-steady --seeds 1-10 [--out FILE]
    python3 perfbench/spread.py --baseline OUT --note TEXT SET_FILE...

The first form runs the benchmark once per seed and prints, per metric,
the median and the distance between the first and third quartile as a
share of the median (`statistics.quantiles(values, n=4)`), beside the
metric's bound from BENCHMARK.json. `--out` also writes the runs and the
summary as JSON: one set.

The second form merges set files into a baseline (perfbench/baseline.json
is one). For each workload with two sets it also reports how far the
second set's median of each metric is from the first's, in the metric's
worse direction, as a share of the first, beside the bound.
"""
import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(bench, runs):
    summary = {}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        summary[m["name"]] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                              "spread": (q3 - q1) / med, "bound": m["bound"]}
    return summary


def run_set(bench, args):
    seconds = bench["run_seconds"]
    runs = []
    for s in seeds(args.seeds):
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(s),
                                "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {s}: exit {out.returncode}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(f"seed {s}: correct={res['correct']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    summary = summarize(bench, runs)
    for name, s in summary.items():
        print(f"{name:<20} median={s['median']:.5g} spread={s['spread']:.3f} "
              f"bound={s['bound']}")
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump({"workload": args.workload, "seconds": seconds,
                       "seeds": seeds(args.seeds), "summary": summary,
                       "runs": runs}, f, indent=1)


def agreement(bench, first, second):
    out = {}
    for m in bench["end_to_end"]:
        a = first["summary"][m["name"]]["median"]
        b = second["summary"][m["name"]]["median"]
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        out[m["name"]] = {"median_1": a, "median_2": b, "worse_by": worse,
                          "bound": m["bound"], "within": worse <= m["bound"]}
    return out


def baseline(bench, args):
    sets = {}
    for path in args.sets:
        with open(path, encoding="utf-8") as f:
            s = json.load(f)
        sets.setdefault(s["workload"], []).append(s)
    out = {"note": args.note, "workloads": {}}
    for w, ss in sets.items():
        entry = {"sets": [{
            "seeds": s["seeds"], "seconds": s["seconds"], "summary": s["summary"],
            "runs": [{"seed": seed, "correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"],
                      **{k: v["value"] for k, v in r["metrics"].items()}}
                     for seed, r in zip(s["seeds"], s["runs"])]} for s in ss]}
        if len(ss) >= 2:
            entry["agreement"] = agreement(bench, ss[0], ss[1])
            for name, a in entry["agreement"].items():
                print(f"{w:<13} {name:<17} set1={a['median_1']:.5g} set2={a['median_2']:.5g} "
                      f"worse_by={a['worse_by']:+.3f} bound={a['bound']}")
        out["workloads"][w] = entry
    with open(args.baseline, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 1-10")
    ap.add_argument("--out")
    ap.add_argument("--baseline", help="merge the set files into this file")
    ap.add_argument("--note", default="")
    ap.add_argument("sets", nargs="*")
    args = ap.parse_args()
    with open("BENCHMARK.json", encoding="utf-8") as f:
        bench = json.load(f)
    if args.baseline:
        baseline(bench, args)
    elif args.workload and args.seeds:
        run_set(bench, args)
    else:
        ap.error("give --workload and --seeds, or --baseline and set files")


if __name__ == "__main__":
    main()
