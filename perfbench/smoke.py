"""Smoke test of the benchmark on tiny inputs. Run from the repository
root::

    python3 perfbench/smoke.py

Checks that every metric of BENCHMARK.json is emitted with its unit by
every listed workload (untraced and traced), that one seed gives
identical input hashes and that another seed gives different ones.
Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402


def _fail(msg: str) -> None:
    print(f"[smoke] FAIL {msg}", file=sys.stderr)
    sys.exit(1)


def check_hashes(root: str) -> None:
    tmp = os.path.join(root, ".perfbench", f"smoke-{os.getpid()}")
    try:
        for family in gen.GENERATORS:
            h = [gen.content_hash(gen.inputs(os.path.join(tmp, str(i)), family, seed, gen.TINY))
                 for i, seed in enumerate((7, 7, 8))]
            if h[0] != h[1]:
                _fail(f"{family}: seed 7 generated twice gives different inputs")
            if h[0] == h[2]:
                _fail(f"{family}: seeds 7 and 8 give identical inputs")
            print(f"[smoke] {family}: hashes stable per seed, distinct across seeds")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def check_metrics(root: str, spec: dict) -> None:
    for wl in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", wl["name"],
                   "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
            if proc.returncode != 0:
                _fail(f"{wl['name']} trace={trace} exited {proc.returncode}: {proc.stderr[-2000:]}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"} or not result["correct"]:
                _fail(f"{wl['name']} trace={trace}: bad result {result}")
            got = result["metrics"]
            if set(got) != {m["name"] for m in spec[kind]}:
                _fail(f"{wl['name']} trace={trace}: metric names differ from BENCHMARK.json "
                      f"{kind}: {sorted(set(got) ^ {m['name'] for m in spec[kind]})}")
            for m in spec[kind]:
                if m["name"] not in got:
                    _fail(f"{wl['name']} trace={trace}: metric {m['name']} missing")
                if got[m["name"]]["unit"] != m["unit"]:
                    _fail(f"{wl['name']} trace={trace}: {m['name']} unit "
                          f"{got[m['name']]['unit']} != {m['unit']}")
            print(f"[smoke] {wl['name']} trace={trace}: all {len(spec[kind])} {kind} metrics present")


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_hashes(root)
    check_metrics(root, spec)
    print("[smoke] ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
