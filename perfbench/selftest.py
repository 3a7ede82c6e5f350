"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py

1. Every metric BENCHMARK.json names is emitted, with its unit, for every
   workload: end-to-end metrics by --trace 0, per-layer ones by --trace 1
   (run at a few hundred files with --toy).
2. The output check rejects a corrupted result: one member's cluster_id
   changed, a row dropped, a wrong content_sha.

Exits 0 when both hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def emitted_metrics() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                   w["name"], "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--toy"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=300)
            if proc.returncode != 0:
                problems.append(f"{w['name']} trace={trace}: exit "
                                f"{proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{w['name']} trace={trace}: keys {sorted(result)}")
            if not result["correct"]:
                problems.append(f"{w['name']} trace={trace}: output check failed")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                problems.append(
                    f"{w['name']} trace={trace}: missing "
                    f"{sorted(set(want) - set(got))}, extra "
                    f"{sorted(set(got) - set(want))}, unit mismatch "
                    f"{sorted(k for k in set(want) & set(got) if want[k] != got[k])}")
    return problems


def check_rejects_corruption() -> list[str]:
    sys.path.insert(0, HERE)
    from check import check_assignment

    truth = pd.DataFrame({
        "repo": ["r"] * 4, "path": ["a", "b", "c", "d"], "commit": ["c"] * 4,
        "row_idx": [0, 1, 2, 3], "truth_cluster": [0, 0, 1, 2],
        "sha": ["s0", "s0", "s2", "s3"]})
    good = truth[["repo", "path", "commit"]].assign(
        file_id=[10, 11, 12, 13], lang="py", content_sha=truth.sha,
        cluster_id=[10, 10, 12, 13])
    reference = pd.Series([10, 10, 12, 13], index=truth.row_idx)
    problems = []
    if check_assignment(good, truth, reference)["errors"]:
        problems.append("the check rejects a correct result")
    corrupted = {
        "cluster_id of one member changed": good.assign(cluster_id=[10, 12, 12, 13]),
        "cluster_id not the minimum member": good.assign(cluster_id=[11, 11, 12, 13]),
        "row dropped": good.iloc[1:],
        "wrong content_sha": good.assign(content_sha=["s0", "s0", "s2", "x"]),
    }
    for what, out in corrupted.items():
        if not check_assignment(out, truth, reference)["errors"]:
            problems.append(f"the check accepts a result with {what}")
    return problems


def main() -> int:
    problems = check_rejects_corruption() + emitted_metrics()
    for p in problems:
        print("FAIL:", p)
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
