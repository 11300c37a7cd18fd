"""Record the traced per-layer table of this host, for later changes to
diff against.

    python3 perfbench/reference.py --seed 1 --out perfbench/reference

Runs ``run.py --trace 1`` once per workload (the declared ones and the
two runnable by name) and writes ``layers_<nproc>cpu.json`` (with an
environment block), ``layers_<nproc>cpu.md`` and each run's spans
(``spans_<workload>.jsonl``) into ``--out``.
"""
from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS, nproc  # noqa: E402


def git_commit() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "reference"))
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    import pyspark
    cpus = nproc()
    table = {"env": {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": cpus,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "seed": args.seed,
        "run_seconds": spec["run_seconds"],
    }, "workloads": {}}
    os.makedirs(args.out, exist_ok=True)
    for name in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "1", "--spans",
             os.path.join(args.out, f"spans_{name}.jsonl")],
            capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-4000:])
            return p.returncode
        table["workloads"][name] = json.loads(
            p.stdout.strip().splitlines()[-1])
    base = os.path.join(args.out, f"layers_{cpus}cpu")
    with open(base + ".json", "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")
    names = list(table["workloads"])
    metrics = []
    for w in names:
        for m, v in table["workloads"][w]["metrics"].items():
            if (m, v["unit"]) not in metrics:
                metrics.append((m, v["unit"]))
    with open(base + ".md", "w") as fh:
        env = table["env"]
        fh.write(f"# Traced per-layer table, {cpus} CPUs\n\n")
        fh.write(", ".join(f"{k}={v}" for k, v in env.items()) + "\n\n")
        fh.write("| metric | unit | " + " | ".join(names) + " |\n")
        fh.write("|---|---|" + "---|" * len(names) + "\n")
        for m, unit in metrics:
            cells = []
            for w in names:
                v = table["workloads"][w]["metrics"].get(m)
                cells.append("" if v is None else f"{v['value']:.4g}")
            fh.write(f"| {m} | {unit} | " + " | ".join(cells) + " |\n")
    print(base + ".json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
