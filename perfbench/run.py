#!/usr/bin/env python3
"""graft's benchmark: kv_core plus the declared query inventory in two
workloads, each run in a fresh JVM at local[<cores>] from a hermetic
working directory.

  python3 perfbench/run.py --workload kv_core --seed 1 --seconds 20 --trace 0
  python3 perfbench/run.py --workload all --seed 1       # every workload, one table

The last stdout line is one JSON object: correct, attempted, failed and
metrics — the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. A traced run also leaves its artifact
(metrics, layers, spans) in --artifacts, for layer_diff.py.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["kv_core", "inventory_similarity", "inventory_relational"]
DATA = HERE / "data" / "sf0.01"
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def cores():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) jiffies of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_jvm(classes, workload, seed, seconds, trace, out, work, fault):
    """One hermetic JVM: fresh working directory (empty spark-warehouse and
    metastore_db), Spark's local dir and java.io.tmpdir inside it."""
    tmp = work / "tmp"
    tmp.mkdir()
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{build.classpath()}", "perfbench.Harness",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--data", str(DATA),
              "--out", str(out), "--cores", str(cores())]
           + (["--fault", fault] if fault else []))
    log = work / "jvm.log"
    steal0, total0 = cpu_ticks()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    steal1, total1 = cpu_ticks()
    print(f"[perfbench] cpu steal during the run: {100 * (steal1 - steal0) / max(total1 - total0, 1):.1f}%")
    text = log.read_text(errors="replace")
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            print(line)
    result = out / "result.json"
    if p.returncode != 0 or not result.exists():
        sys.stderr.write(text[-6000:])
        raise SystemExit(f"perfbench: {workload} JVM exited with {p.returncode}")
    return json.loads(result.read_text())


def run_workload(workload, seed, seconds, trace, fault="", artifacts=None):
    classes = build.build()
    runs = ROOT / ".perfbench" / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{workload}-", dir=runs))
    try:
        out = work / "out"
        res = run_jvm(classes, workload, seed, seconds, trace, out, work, fault)
        failures = list(res["failures"])
        if (out / "oracle_sql.json").exists():
            bad = oracle.check(str(DATA), str(out))
            for q, msg in sorted(bad.items()):
                print(f"[perfbench] ORACLE MISMATCH {q}: {msg}")
            failures += sorted(q for q in bad if q not in failures)
        if trace and artifacts:
            artifacts.mkdir(parents=True, exist_ok=True)
            shutil.copy(out / "spans.jsonl", artifacts / f"{workload}.spans.jsonl")
            art = {"workload": workload, "seed": seed, "seconds": seconds,
                   "metrics": res["metrics"], "layers": res["layers"], "extra": res["extra"]}
            (artifacts / f"{workload}.trace.json").write_text(json.dumps(art, indent=1) + "\n")
        res["failures"] = failures
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(res, trace, s):
    """Human lines, then the metric object of the contract line."""
    table = s["per_layer"] if trace else s["end_to_end"]
    src = res["layers"] if trace else res["metrics"]
    attempted, failed = res["attempted"], len(res["failures"])
    w = res["workload"]
    print(f"[{w}] error_rate = {failed}/{attempted} = {failed / max(attempted, 1):.4f}"
          + (f" (failed: {', '.join(res['failures'])})" if failed else ""))
    for k, v in res["extra"].items():
        print(f"[{w}] {k} = {v:.4f}")
    metrics = {}
    for m in table:
        v = src.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"[{w}] {m['name']} = {v:.6f} {m['unit']}")
    return metrics, attempted, failed


def main(argv=None):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--artifacts", default=str(ROOT / ".perfbench" / "artifacts"),
                    help="where a traced run leaves <workload>.trace.json and .spans.jsonl")
    ap.add_argument("--fault", default="", choices=["", "golden", "oracle"],
                    help="test hook: corrupt a kv_core golden or one inventory result")
    a = ap.parse_args(argv)
    s = spec()
    seconds = a.seconds if a.seconds is not None else s["run_seconds"]
    names = WORKLOADS if a.workload == "all" else [a.workload]
    metrics, attempted, failed = {}, 0, 0
    for w in names:
        t0 = time.time()
        res = run_workload(w, a.seed, seconds, bool(a.trace), a.fault, Path(a.artifacts))
        m, at, fa = report(res, bool(a.trace), s)
        print(f"[{w}] run took {time.time() - t0:.1f} s")
        attempted += at
        failed += fa
        metrics.update(m if len(names) == 1 else {f"{w}.{k}": v for k, v in m.items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
