#!/usr/bin/env python3
"""Run the benchmark over many seeds and check that its figures are steady.

Usage (from the repository root):
  python3 perfbench/steadiness.py run <out-dir> <first-seed> <count> [workload ...]
  python3 perfbench/steadiness.py report <set-dir> [<set-dir> ...] [--json <file>]

`run` makes one untraced run per seed and workload, one after the
other, and keeps each result line in <out-dir>/<workload>-<seed>.json
and its standard error (per-pass walls) in <workload>-<seed>.log.
`report` prints, per set of runs, each end-to-end metric's median and
spread (interquartile range over median, from Python's
statistics.quantiles(n=4)). It checks every spread but setup_s against
the metric's bound in BENCHMARK.json and every later set's median
against the first set's, worse by at most the bound, and exits 1 when
a check fails. `--json` writes every run and summary to one file.
"""
import glob
import json
import os
import statistics
import subprocess
import sys


def bench():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def run(out, first, count, workloads):
    b = bench()
    os.makedirs(out, exist_ok=True)
    for w in workloads or [x["name"] for x in b["workloads"]]:
        for seed in range(first, first + count):
            cmd = b["command"] + ["--workload", w, "--seed", str(seed),
                                  "--seconds", str(b["run_seconds"]), "--trace", "0"]
            with open(os.path.join(out, f"{w}-{seed}.log"), "w") as err:
                r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
            with open(os.path.join(out, f"{w}-{seed}.json"), "w") as f:
                f.write(r.stdout.strip().split("\n")[-1] + "\n")
            print(f"{w} seed {seed}: exit {r.returncode}", file=sys.stderr)


def load(d):
    """{workload: [(seed, result)]} of one set directory."""
    sets = {}
    for path in sorted(glob.glob(os.path.join(d, "*-*.json"))):
        w, seed = os.path.basename(path)[:-5].rsplit("-", 1)
        with open(path) as f:
            sets.setdefault(w, []).append((int(seed), json.loads(f.read())))
    return sets


def summary(runs, metrics):
    out = {}
    for m in metrics:
        v = [r["metrics"][m["name"]]["value"] for _, r in runs]
        q = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        out[m["name"]] = {"unit": m["unit"], "median": med, "q1": q[0], "q3": q[2],
                          "spread": (q[2] - q[0]) / med}
    return out


def report(dirs, json_out):
    metrics = bench()["end_to_end"]
    sets = [load(d) for d in dirs]
    record, ok = {"sets": []}, True
    for i, s in enumerate(sets):
        entry = {}
        for w, runs in sorted(s.items()):
            summ = summary(runs, metrics)
            correct = all(r["correct"] for _, r in runs)
            ok &= correct
            print(f"set {i + 1} {w}: {len(runs)} runs, all correct: {correct}")
            for m in metrics:
                x = summ[m["name"]]
                line = f"  {m['name']:14s} median {x['median']:<12.6g} {m['unit']:6s} spread {x['spread']:.3f}"
                if m["name"] != "setup_s" and x["spread"] > m["bound"]:
                    line += f"  OVER bound {m['bound']}"
                    ok = False
                if i > 0 and w in sets[0]:
                    first = summary(sets[0][w], metrics)[m["name"]]["median"]
                    worse = (x["median"] / first - 1) * (1 if m["better"] == "lower" else -1)
                    line += f"  vs set 1 {worse:+.3f}"
                    if worse > m["bound"]:
                        line += f" OVER bound {m['bound']}"
                        ok = False
                print(line)
            entry[w] = {"runs": len(runs), "all_correct": correct, "summary": summ,
                        "per_run": [{"seed": seed, "result": r} for seed, r in runs]}
        record["sets"].append(entry)
    if json_out:
        with open(json_out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


def main(argv):
    if len(argv) >= 4 and argv[0] == "run":
        run(argv[1], int(argv[2]), int(argv[3]), argv[4:])
        return 0
    if len(argv) >= 2 and argv[0] == "report":
        args, json_out = argv[1:], None
        if "--json" in args:
            i = args.index("--json")
            json_out = args[i + 1]
            args = args[:i] + args[i + 2:]
        return report(args, json_out)
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
