#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload, briefly, at sf0.001.

Run from the root of a checkout:

    python3 perfbench/smoke.py          # the workloads BENCHMARK.json lists
    python3 perfbench/smoke.py --all    # every workload run.py defines

For each workload it runs run.py untraced and traced, and asserts that the
result line carries every metric BENCHMARK.json names, each with its unit,
and that no query failed (failed_share = 1 - correct_share = 0). Exits 1 on
the first workload that does not pass.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402  (the benchmark itself: its workload table)


def last_json(stdout):
    lines = [l for l in stdout.strip().splitlines() if l.strip()]
    return json.loads(lines[-1]) if lines else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--all", action="store_true", help="every workload run.py defines")
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    names = sorted(run.WORKLOADS) if args.all else [w["name"] for w in spec["workloads"]]
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = []
    for name in names:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", str(args.seed), "--seconds", "1", "--trace", str(trace),
                   "--scale", "0.001"]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            res = last_json(p.stdout) if p.returncode == 0 else None
            problems = []
            if res is None:
                problems.append(f"exit {p.returncode}: {p.stderr.strip()[-600:]}")
            else:
                got = res["metrics"]
                problems += [f"missing metric {k}" for k in want[trace] if k not in got]
                problems += [f"{k}: unit {got[k]['unit']} != {u}"
                             for k, u in want[trace].items() if k in got and got[k]["unit"] != u]
                problems += [f"unlisted metric {k}" for k in got if k not in want[trace]]
                if res["failed"] or not res["correct"]:
                    wrong = [l for l in p.stderr.splitlines() if "WRONG" in l]
                    problems.append(f"failed {res['failed']}/{res['attempted']}: " +
                                    "; ".join(wrong)[:600])
            status = "ok" if not problems else "FAIL"
            print(f"{status} {name} trace={trace}" + "".join(f"\n  {x}" for x in problems),
                  flush=True)
            if problems:
                bad.append(name)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
