"""Benchmark entry point.

    python3 perfbench/run.py --workload <index_build|query_mix> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the root of a checkout.  The script generates the workload's
inputs from the seed, starts ``worker.py`` in a fresh process (its own
Spark session) against ``local[nproc]``, waits for it, and prints one
JSON line: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``.  Everything it writes lives under ``.perfbench/``
in the checkout; the run directory is removed at the end and a record
of the run, stamped with the host's shape, is kept in
``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "inverted_index_using_the_map_reduce_paradigm_spark"
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import fixtures  # noqa: E402
import model  # noqa: E402
from proc import descendants  # noqa: E402

WORKLOADS = ("index_build", "query_mix")
# (files, median file bytes, vocabulary) of the manifest corpus
CORPUS_SIZE = {"full": (400, 6000, 30000), "smoke": (40, 1500, 3000)}
# fraction of scale factor 1 for the query mix's tables
MIX_SF = {"full": 0.01, "smoke": 0.002}
LOOKUP_TERMS = {"full": 20, "smoke": 8}
# the smoke mix keeps the first queries of mix.txt
SMOKE_QUERIES = 5
# a run must end within 180 s; the worker gets what input generation left
RUN_BUDGET_S = 165
T_START = time.time()
PR_SET_CHILD_SUBREAPER = 36

END_TO_END = {
    "setup_s": "s",
    "ops_s": "1/s",
    "op_ms": "ms",
    "cpu_ms_per_op": "ms",
    "correct_ratio": "ratio",
}


def _mix_names() -> list[str]:
    with open(os.path.join(HERE, "mix.txt")) as f:
        return f.read().split()


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "cpu.client_ms_per_op": "ms",
        "cpu.jvm_ms_per_op": "ms",
        "cpu.py_worker_ms_per_op": "ms",
        "io.jvm_write_bytes_per_op": "bytes",
        "trace.overhead_ms_per_op": "ms",
        "op_p50_ms": "ms",
        "op_p90_ms": "ms",
        "mem.median_pss_mb": "MB",
        "mem.peak_pss_mb": "MB",
        "mem.setup_peak_pss_mb": "MB",
        "manifest.read_corpus_ms": "ms",
        "manifest.scan_ms": "ms",
        "text.tokenize_ms": "ms",
        "inverted_index.aggregate_ms": "ms",
        "inverted_index.format_ms": "ms",
        "sinks.write_letter_index_ms": "ms",
        "sinks.collect_reference_layout_ms": "ms",
        "data.fixture_stage_s": "s",
        "inverted_index.stored_index_build_s": "s",
        "storage.index_bytes_per_input_byte": "ratio",
        "sinks.lookup_plan_ms": "ms",
        "sinks.lookup_exec_ms": "ms",
    }
    for name in _mix_names():
        units[f"q.{name}.build_ms"] = "ms"
        units[f"q.{name}.exec_ms"] = "ms"
    return units


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_stamp() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyspark

    return {
        "nproc": nproc(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "mem_total_kb": mem_kb,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def make_inputs(workload: str, seed: int, work: str, size: str) -> dict:
    """Generate the seeded inputs (and their expected outputs) before
    the measured process starts."""
    data = os.path.join(work, "data")
    if workload == "index_build":
        n_files, median, vocab = CORPUS_SIZE[size]
        manifest, paths = corpus.write_manifest_corpus(data, seed, n_files, median, vocab)
        expected = os.path.join(work, "expected")
        os.makedirs(expected)
        for letter, blob in model.letter_files(model.postings(paths)).items():
            with open(os.path.join(expected, f"{letter}.txt"), "wb") as f:
                f.write(blob)
        return {"manifest": manifest, "expected_dir": expected, "sf_dir": data,
                "input_bytes": sum(os.path.getsize(p) for p in paths)}
    n_bytes = fixtures.write_tables(data, seed, MIX_SF[size])
    queries = _mix_names()
    if size == "smoke":
        queries = queries[:SMOKE_QUERIES]
    return {"sf_dir": data, "input_bytes": n_bytes, "queries": queries,
            "lookup_terms": LOOKUP_TERMS[size]}


def child_env(work: str, sf_dir: str) -> dict:
    env = dict(os.environ)
    cpus = str(nproc())
    env.setdefault("SPARK_GRAFT_CPUS", cpus)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env.update({
        # Python workers import the package only through PYTHONPATH
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_FIXTURE_CACHE": os.path.join(work, "fixture-cache"),
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp}" '
            "pyspark-shell"),
    })
    return env


def become_subreaper() -> None:
    """Orphans of the worker -- the JVM, and the PySpark daemon, which
    moves itself into a process group of its own, with its Python
    workers -- are re-parented to this process instead of init, so it
    can end and reap every one of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_all(proc: subprocess.Popen) -> None:
    """Kill the worker and everything it started, and wait until every
    process has ended.  Nothing there holds state worth a graceful
    shutdown: the run directory is removed afterwards."""
    proc.kill()
    proc.wait()
    while True:
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def run(args) -> dict:
    size = "smoke" if args.smoke else "full"
    runs = os.path.join(ROOT, ".perfbench")
    work = os.path.join(runs, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        inputs = make_inputs(args.workload, args.seed, work, size)
        spec = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "work": work,
            "mutate": args.mutate, **inputs,
        }
        env = child_env(work, inputs["sf_dir"])
        host = host_stamp() | {"spark_graft_cpus": env["SPARK_GRAFT_CPUS"]}
        log_path = os.path.join(work, "worker.log")
        spec["t_launch"] = time.time()
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(spec)],
                cwd=work, env=env, start_new_session=True,
                stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10.0, RUN_BUDGET_S - (time.time() - T_START)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            stop_all(proc)
        result_path = os.path.join(work, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                tail = "".join(f.readlines()[-30:])
            raise RuntimeError(f"worker failed (exit {proc.returncode}):\n{tail}")
        with open(result_path) as f:
            result = json.load(f)
        host["jdk"] = result.pop("host_jvm")
        result["phases_s"]["exit"] = time.time() - spec["t_launch"]
        record = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "input_bytes": inputs["input_bytes"], "host": host, **result}
        os.makedirs(os.path.join(runs, "records"), exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}.json"
        with open(os.path.join(runs, "records", name), "w") as f:
            json.dump(record, f)
        return record
    finally:
        shutil.rmtree(work, ignore_errors=True)


def summary(record: dict) -> dict:
    e2e = record["e2e"]
    correct = record["failed"] == 0 and e2e["correct_ratio"] == 1.0
    if record["trace"]:
        layers = record["layers"]
        # a layer this workload does not exercise reports zero work
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": correct, "attempted": record["attempted"],
            "failed": record["failed"], "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the self-test")
    ap.add_argument("--mutate", choices=("letter_byte", "posting"),
                    help="damage one output before it is checked (self-test)")
    args = ap.parse_args()
    # on SIGTERM unwind through run()'s cleanup, which stops the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"run.py: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    try:
        record = run(args)
    except RuntimeError as e:
        print(f"run.py: {e}", file=sys.stderr)
        return 1
    print(json.dumps(summary(record)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
