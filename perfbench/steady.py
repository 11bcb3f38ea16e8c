"""Steadiness check: runs the benchmark on several seeds per workload and
reports, for each end-to-end metric, the median and the spread between the
first and third quartile as a share of the median (the figure each metric's
bound in BENCHMARK.json is compared with). With --prior, a report from an
earlier set of runs, it also reports how much worse each median got since
that set, as a share of the prior median.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1,2,3] [--out file.json]
                                [--prior earlier.json]

Run from the root of a checkout.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (Linux only; 0 elsewhere): the load of other tenants,
    which moves wall-clock figures."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default=",".join(str(s) for s in range(1, 11)))
    ap.add_argument("--out")
    ap.add_argument("--prior")
    args = ap.parse_args()
    prior = {}
    if args.prior:
        with open(args.prior) as f:
            prior = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in args.workloads.split(","):
        runs = []
        for seed in args.seeds.split(","):
            t0, steal0 = time.monotonic(), steal_s()
            p = subprocess.run(bench["command"] + ["--workload", w, "--seed", seed, "--seconds",
                                                   str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit("%s seed %s failed:\n%s" % (w, seed, p.stderr[-3000:]))
            last = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": int(seed), "wall_s": time.monotonic() - t0,
                         "steal_s": steal_s() - steal0, "correct": last["correct"],
                         "failed": last["failed"],
                         "metrics": {k: v["value"] for k, v in last["metrics"].items()}})
            print("%s seed %s: %.0f s wall, %.1f s stolen, correct=%s, epoch_p50_s %.3f" % (
                w, seed, runs[-1]["wall_s"], runs[-1]["steal_s"], last["correct"],
                runs[-1]["metrics"]["epoch_p50_s"]), flush=True)
        summary = {}
        for name in bounds:
            vals = [r["metrics"][name] for r in runs]
            m = summary[name] = {"median": statistics.median(vals), "spread": spread(vals),
                                 "bound": bounds[name]}
            line = "  %-14s median %12.4f  spread %6.3f  bound %.3f%s" % (
                name, m["median"], m["spread"], bounds[name],
                "" if name == "setup_s" or m["spread"] <= bounds[name] / 3 else "  WIDE")
            if w in prior:
                was = prior[w]["summary"][name]["median"]
                sign = 1 if better[name] == "lower" else -1
                m["worse_than_prior"] = sign * (m["median"] - was) / was if was else 0.0
                line += "  worse than prior %+.3f%s" % (
                    m["worse_than_prior"], "  OVER" if m["worse_than_prior"] > bounds[name] else "")
            print(line)
        report[w] = {"runs": runs, "summary": summary}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
