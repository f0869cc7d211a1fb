"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the root of a checkout; takes a few minutes.  It checks that

* a smoke-sized run of every workload prints, in one line, every metric
  that ``BENCHMARK.json`` names, each with its unit, and passes its
  output checks;
* damaging the engine's output -- one byte of one letter file, or one
  posting dropped -- drives ``correct_ratio`` below 1 and marks the run
  incorrect;
* without the package the command fails without printing a result;
* records from hosts with different core counts are refused by
  ``compare.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("index_build", "query_mix")


def bench(*extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--seed", "5",
           "--seconds", "3", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    failures: list[str] = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in WORKLOADS:
        for trace in (0, 1):
            code, out = bench("--workload", w, "--trace", str(trace), "--smoke")
            expect(code == 0 and out is not None, f"{w} trace={trace} runs")
            if out is None:
                continue
            expect(set(out) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace={trace} result keys")
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            expect(got == want[trace], f"{w} trace={trace} metric names and units")
            expect(out["correct"] and out["failed"] == 0,
                   f"{w} trace={trace} outputs correct")
            if trace == 0:
                expect(out["metrics"]["correct_ratio"]["value"] == 1.0,
                       f"{w} correct_ratio is 1")

    for w, how in (("index_build", "letter_byte"), ("index_build", "posting"),
                   ("query_mix", "posting")):
        code, out = bench("--workload", w, "--trace", "0", "--smoke", "--mutate", how)
        expect(code == 0 and out is not None, f"{w} mutate={how} runs")
        if out is not None:
            expect(not out["correct"] and out["failed"] > 0
                   and out["metrics"]["correct_ratio"]["value"] < 1,
                   f"{w} mutate={how} is flagged")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out = bench("--workload", "index_build", "--trace", "0", cwd=bare)
    shutil.rmtree(bare)
    expect(code != 0 and out is None, "fails without the package")

    records = os.path.join(ROOT, ".perfbench", "selftest-records")
    os.makedirs(records, exist_ok=True)
    paths = []
    for n in (4, 8):
        rec = {"workload": "index_build", "seed": 1, "trace": 0,
               "host": {"nproc": n, "spark_graft_cpus": str(n)},
               "e2e": {"setup_s": 1.0}}
        paths.append(os.path.join(records, f"nproc{n}.json"))
        with open(paths[-1], "w") as f:
            json.dump(rec, f)
    p = subprocess.run([sys.executable, os.path.join(HERE, "compare.py"), *paths],
                       capture_output=True, text=True)
    shutil.rmtree(records)
    expect(p.returncode != 0 and "refusing" in p.stderr,
           "compare refuses different core counts")

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
