"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads synthea_daily,corpus_dedup --seeds 1-10 [--out f.json]

Runs `perfbench/run.py` once per workload and seed (untraced, with the
`run_seconds` of BENCHMARK.json), from the repository root. For every
end-to-end metric it prints the median, the quartiles
(`statistics.quantiles(values, n=4)`), the spread (interquartile distance
as a share of the median) and the metric's bound, and the runs' wall
times; `--out` also writes every run's result, wall time and host steal
share as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out")
    a = p.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            cmd = ["python3", "perfbench/run.py", "--workload", w, "--seed", str(s),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.time() - t0
            steal = None
            for line in proc.stderr.splitlines():
                if line.startswith("[perfbench] ops "):
                    steal = line.split("host steal ")[1].split(",")[0]
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else None
            runs.append({"seed": s, "exit": proc.returncode, "wall_s": round(wall, 1),
                         "host_steal_frac": steal, "result": result})
            print(f"{w} seed {s}: exit {proc.returncode}, {wall:.1f}s, steal {steal}, "
                  f"{json.dumps(result['metrics']) if result else 'no result'}", file=sys.stderr)
        summary = {}
        for m in bounds:
            vals = [r["result"]["metrics"][m]["value"] for r in runs
                    if r["result"] and m in r["result"]["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[m] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else None, "bound": bounds[m]}
            print(f"{w:18s} {m:18s} median {med:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  "
                  f"spread {summary[m]['spread']:.4f}  bound {bounds[m]}")
        walls = [r["wall_s"] for r in runs]
        print(f"{w:18s} run wall: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
        report[w] = {"runs": runs, "summary": summary}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
