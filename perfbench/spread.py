"""Run-to-run spread of the end-to-end metrics, as the acceptance check computes it.

    python3 perfbench/spread.py --workload small --seeds 1-10

For every end-to-end metric: the median of the runs, and the distance
between the first and third quartiles (``statistics.quantiles(n=4)``) as a
share of that median, next to the metric's bound from ``BENCHMARK.json``.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def report(workload, runs, spec):
    print(f"{workload}: {len(runs)} runs")
    print(f"  {'metric':22s} {'median':>12s} {'iqr/median':>10s} {'bound':>6s}")
    for m in spec["end_to_end"]:
        vals = [r[m["name"]] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4)
        share = (q[2] - q[0]) / med if med else float("inf")
        flag = "" if share < m["bound"] / 3 else ("  over 1/3 bound" if share < m["bound"] else "  OVER BOUND")
        print(f"  {m['name']:22s} {med:12.5g} {share:10.3f} {m['bound']:6.2f}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    runs = []
    for s in seeds(a.seeds):
        out = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", a.workload,
                              "--seed", str(s), "--seconds", a.seconds, "--trace", "0"],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            print(f"seed {s}: exit {out.returncode}", file=sys.stderr)
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            print(f"seed {s}: incorrect ({res['failed']} failed)", file=sys.stderr)
        runs.append({k: v["value"] for k, v in res["metrics"].items()})
    if len(runs) < 2:
        sys.exit("need at least two runs")
    report(a.workload, runs, spec)


if __name__ == "__main__":
    main()
