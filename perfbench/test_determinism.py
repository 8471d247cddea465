#!/usr/bin/env python3
"""Check that one seed always runs one script.

Runs each workload twice with the same seed, on its full corpus at
`local[3]` with a short script (`--seconds 1`, two rounds), and asserts that
every deterministic figure repeats exactly: the recall metrics, `index_mb`,
`dup_recall` and the attempted/failed count of every operation type. Also
asserts that every run passes its correctness checks.

    python3 perfbench/test_determinism.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("exact-scan", "ivf-batch", "serve-mutate", "dedup-corpus")
DETERMINISTIC = ("recall", "recall_at_10", "dup_recall", "index_mb",
                 "entities_end", "verified_pairs", "components")


def run(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0",
         "--cores", "3"],
        stdout=subprocess.PIPE, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    assert out.returncode == 0 and len(lines) >= 2, (
        f"{workload}: exit {out.returncode}, output {out.stdout[-2000:]}")
    record, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert result["correct"], f"{workload}: {record['check_failures']}"
    figures = {k: v["value"] for k, v in record["metrics"].items()
               if k in DETERMINISTIC}
    ops = {k: (v["attempted"], v["failed"]) for k, v in record["ops"].items()}
    return figures, ops, (result["attempted"], result["failed"])


def main():
    names = sys.argv[1:] or WORKLOADS
    bad = []
    for w in names:
        a, b = run(w, 7), run(w, 7)
        status = "ok" if a == b else "DIFFERS"
        print(f"{w}: {status} {a[0]} attempted/failed={a[2]}")
        if a != b:
            bad.append(w)
            print(f"  first:  {a}\n  second: {b}")
    if bad:
        sys.exit(f"not deterministic: {', '.join(bad)}")


if __name__ == "__main__":
    main()
