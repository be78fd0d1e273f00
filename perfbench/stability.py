#!/usr/bin/env python3
"""Collect and compare sets of benchmark runs.

Collect a set (one run.py call per workload and seed, results as JSON lines):
    python3 perfbench/stability.py run --out set.jsonl [--workloads a,b] [--seeds 1-10]

Summarise one set, or compare two (say parent and change):
    python3 perfbench/stability.py compare set.jsonl [other.jsonl]

For every workload and end-to-end metric it prints the median, the first
and third quartiles (statistics.quantiles(values, n=4)) and the spread
(Q3 - Q1) / median. With one set, a metric is "steady" when its spread is
within its bound from BENCHMARK.json and "tight" when
it is within a third of it. With two sets it also reports the change of
the second median against the first, signed so that positive is worse,
and whether that stays within the bound. Exits 1 if any check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def collect(args):
    s = spec()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in s["workloads"]]
    with open(args.out, "a") as out:
        for w in workloads:
            for seed in seeds(args.seeds):
                cmd = s["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(s["run_seconds"]), "--trace", "0"]
                r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                   text=True)
                lines = r.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
                out.write(json.dumps({"workload": w, "seed": seed, "rc": r.returncode,
                                      "result": result}) + "\n")
                out.flush()
                ok = r.returncode == 0 and result is not None and result["correct"]
                print("%s seed %d: %s" % (w, seed, "ok" if ok else "FAILED rc=%d" % r.returncode),
                      file=sys.stderr)


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            runs.setdefault(rec["workload"], []).append(rec)
    return runs


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def compare(args):
    s = spec()
    metrics = {m["name"]: m for m in s["end_to_end"]}
    sets = [load(p) for p in args.sets]
    bad = 0
    for w in [x["name"] for x in s["workloads"]]:
        for i, runs in enumerate(sets):
            recs = runs.get(w, [])
            failed = [r for r in recs if r["rc"] != 0 or not r["result"] or not r["result"]["correct"]]
            if failed or len(recs) < 2:
                print("%-18s set %d: %d runs, %d failed or wrong" % (w, i + 1, len(recs), len(failed)))
                bad += 1
        if any(len(runs.get(w, [])) < 2 for runs in sets):
            continue
        for name, m in metrics.items():
            row = []
            meds = []
            for runs in sets:
                vals = [r["result"]["metrics"][name]["value"] for r in runs[w]]
                med, q1, q3, spread = stats(vals)
                meds.append(med)
                steady = spread <= m["bound"]
                bad += not steady
                row.append("med %12.4f q1 %12.4f q3 %12.4f spread %6.3f %s"
                           % (med, q1, q3, spread,
                              "tight" if spread <= m["bound"] / 3 else
                              "steady" if steady else "UNSTEADY"))
            line = "%-18s %-16s %s" % (w, name, " | ".join(row))
            if len(meds) == 2:
                worse = (meds[1] - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
                agree = worse <= m["bound"]
                bad += not agree
                line += " | worse %+.3f of bound %.2f %s" % (worse, m["bound"],
                                                            "agree" if agree else "DIFFER")
            print(line)
    sys.exit(1 if bad else 0)


def main():
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--workloads", default="")
    r.add_argument("--seeds", default="1-10")
    c = sub.add_parser("compare")
    c.add_argument("sets", nargs="+")
    a = p.parse_args()
    if a.cmd == "run":
        collect(a)
    else:
        if len(a.sets) > 2:
            raise SystemExit("compare takes one or two sets")
        compare(a)


if __name__ == "__main__":
    main()
