"""Run a workload over several seeds and print each metric's spread.

    python3 perfbench/spread.py --workload serve_hot --seeds 1-10 [--trace 0]

For each metric: the median of its values and the distance between the
first and third quartile (statistics.quantiles, n=4) as a share of that
median — the steadiness check a bound in BENCHMARK.json must cover.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="10")
    p.add_argument("--trace", default="0")
    a = p.parse_args()
    lo, _, hi = a.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    values, failed = {}, 0
    for s in seeds:
        r = subprocess.run([sys.executable, str(RUN), "--workload", a.workload, "--seed", str(s),
                            "--seconds", a.seconds, "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            print(f"seed {s}: run failed ({r.returncode})")
            return 1
        res = json.loads(r.stdout.strip().splitlines()[-1])
        failed += res["failed"]
        print(f"seed {s}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.6g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:40s} median {med:14.6g}  iqr/median {spread:7.3f}  n={len(vs)}")
    print(f"failed ops over all runs: {failed}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
