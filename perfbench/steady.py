#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end
metric's median and spread (quartile distance as a share of the median),
against the bound BENCHMARK.json fixes for it.

  python3 perfbench/steady.py kv_core --seeds 1-10 [--log runs.jsonl]
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--log", default=None, help="append every run's result line here")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for s in seeds(a.seeds):
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {s}: exit {r.returncode}\n{r.stdout[-3000:]}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        took = [ln for ln in r.stdout.splitlines() if "run took" in ln]
        print(f"seed {s}: correct={res['correct']} {res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items())
              + (f" ({took[-1].split('] ')[-1]})" if took else ""), flush=True)
        if a.log:
            with open(a.log, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": s, **res}) + "\n")
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("inf")
        print(f"{a.workload} {m['name']}: median {med:.4f} {m['unit']}, spread {spread:.3f} "
              f"(bound {m['bound']}, bound/3 {m['bound'] / 3:.3f})")


if __name__ == "__main__":
    main()
