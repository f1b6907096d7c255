#!/usr/bin/env python3
"""The benchmark's own test: every workload on the smoke-scale fixture
(TPC-H sf0.001-sized), untraced and traced. Asserts that each run's last
line is the result object, that its outputs are correct, and that every
metric named in BENCHMARK.json is printed with its unit.

  python3 perfbench/smoke_test.py        # from the root of a checkout
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    sys.path.insert(0, HERE)
    from run import WORKLOADS  # the listed workloads and any extra ones
    failures = []
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w, "--seed", "7", "--seconds", "1",
                                     "--trace", str(trace), "--scale", "smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                failures.append(f"{w} trace={trace}: no result line (exit {p.returncode})\n"
                                f"{p.stderr[-2000:]}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            problems = []
            if p.returncode != 0:
                problems.append(f"exit {p.returncode}")
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"keys {sorted(res)}")
            if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
                problems.append(f"correct={res.get('correct')} attempted={res.get('attempted')} "
                                f"failed={res.get('failed')}")
            if got != want[trace]:
                problems.append(f"metrics differ from BENCHMARK.json: missing "
                                f"{sorted(set(want[trace]) - set(got))}, extra "
                                f"{sorted(set(got) - set(want[trace]))}, units "
                                f"{sorted(k for k in got if want[trace].get(k, got[k]) != got[k])}")
            printed = "\n".join(lines[:-1])
            unprinted = [k for k, u in want[trace].items()
                         if not any(k in l and l.rstrip().endswith(u) for l in printed.splitlines())]
            if unprinted:
                problems.append(f"not printed with unit: {unprinted}")
            status = "ok" if not problems else "FAIL: " + "; ".join(problems)
            print(f"{w:<12} trace={trace} {status}", flush=True)
            if problems:
                failures.append(f"{w} trace={trace}: {problems}")
    if failures:
        print("\n".join(failures), file=sys.stderr)
        sys.exit(1)
    print("smoke test passed")


if __name__ == "__main__":
    main()
