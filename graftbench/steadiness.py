#!/usr/bin/env python3
"""Steadiness study: one set of untraced runs of a workload, one per seed.

    python3 graftbench/steadiness.py <workload> <seed>,<seed>,... <out.jsonl>

Run from the root of a source checkout. Appends each run's result line
to the output file, then prints, per end-to-end metric, the median over
the set and its spread: (Q3 - Q1) / median, with the quartiles of
`statistics.quantiles(values, n=4)`. With an earlier set's file as a
fourth argument it also prints how much worse this set's median is than
the earlier set's, as a share of the earlier one. An empty seed list
runs nothing and reports on the file as it is. STEADINESS.md records
the results.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

BETTER = {m["name"]: m["better"] for m in json.load(open("BENCHMARK.json"))["end_to_end"]}


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def medians(rows):
    return {k: stats.median([r["metrics"][k]["value"] for r in rows]) for k in rows[0]["metrics"]}


def main():
    workload, seeds, out = sys.argv[1], [s for s in sys.argv[2].split(",") if s], sys.argv[3]
    for seed in seeds:
        r = subprocess.run([sys.executable, "graftbench/run.py", "--workload", workload,
                            "--seed", seed, "--seconds", "10", "--trace", "0"],
                           stdout=subprocess.PIPE, text=True, check=True)
        line = r.stdout.strip().splitlines()[-1]
        with open(out, "a") as f:
            f.write(line + "\n")
        print(f"seed {seed}: {line}", flush=True)
    rows = load(out)
    bad = [r for r in rows if not r["correct"] or r["failed"]]
    print(f"{workload}: {len(rows)} runs, {len(bad)} with failures")
    first = medians(rows)
    other = medians(load(sys.argv[4])) if len(sys.argv) > 4 else None
    for k, med in first.items():
        spread = stats.spread([r["metrics"][k]["value"] for r in rows])
        line = f"{workload:13s} {k:17s} median {med:12.4g} spread {spread:.3f}"
        if other:
            worse = (med - other[k]) / other[k]
            line += f"  worse than earlier set by {worse if BETTER[k] == 'lower' else -worse:+.3f}"
        print(line)


if __name__ == "__main__":
    main()
