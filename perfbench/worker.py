"""The Spark side of one benchmark run.

``run.py`` generates the inputs, then starts this file in a fresh
process with one JSON argument.  The process starts a session, sets the
workload up, warms it, runs it as a closed loop with one client thread
for the requested seconds, checks every output and writes its result
to ``result.json`` in the run directory.  Every timed call goes
through the package's public functions.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

import numpy as np
from inverted_index_using_the_map_reduce_paradigm_spark import data, registry
from inverted_index_using_the_map_reduce_paradigm_spark.functions.text import (
    tokenize_documents_distinct_arrow,
)
from inverted_index_using_the_map_reduce_paradigm_spark.operators.inverted_index import (
    build_index,
    formatted_index,
    stored_index_dir,
)
from inverted_index_using_the_map_reduce_paradigm_spark.session import get_spark
from inverted_index_using_the_map_reduce_paradigm_spark.sources.manifest import read_corpus
from inverted_index_using_the_map_reduce_paradigm_spark.sources.sinks import (
    collect_reference_layout,
    lookup_term,
    write_letter_index,
)

import corpus
import model
from proc import ProcessTree, PssSampler, delta
from spans import Tracer


def no_span(name: str, op: int):
    return nullcontext()

def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class IndexBuild:
    """The drop-in CLI path: manifest -> 26 letter files, byte-checked
    against the reference model."""

    warmup_ops = 3

    def __init__(self, spark, args, tracer):
        self.spark = spark
        self.args = args
        self.tracer = tracer
        self.manifest = args["manifest"]
        self.out_root = os.path.join(args["work"], "out")
        self.expected = {}
        exp_dir = args["expected_dir"]
        for name in os.listdir(exp_dir):
            with open(os.path.join(exp_dir, name), "rb") as f:
                self.expected[name] = f.read()

    def setup(self) -> None:
        """The first (cold) build is what a one-shot CLI user waits for;
        warm-up builds (negative op ids) follow it in ``warm_up``."""
        self.warm_up(-1)

    def warm_up(self, op_id: int) -> None:
        if not self.check(self.build(op_id), op_id):
            raise RuntimeError(f"build {op_id} did not match the model")

    def build(self, op_id: int) -> str:
        """One op; returns the directory holding the 26 files."""
        out = os.path.join(self.out_root, f"op{op_id}")
        span = self.tracer.span if self.tracer and op_id >= 0 else no_span
        with span("index_build.op", op_id):
            with span("manifest.read_corpus", op_id):
                docs = read_corpus(self.spark, self.manifest, validate=True, wholetext=True)
            with span("sinks.write_letter_index", op_id):
                write_letter_index(formatted_index(docs, arrow_tokenizer=True), out)
            with span("sinks.collect_reference_layout", op_id):
                collect_reference_layout(out)
        return out

    def probe_layers(self, op_id: int) -> None:
        """Run successive prefixes of the pipeline to the noop sink; a
        layer's self time is the difference of consecutive prefixes."""
        tr = self.tracer
        docs = read_corpus(self.spark, self.manifest, wholetext=True)
        steps = [
            ("prefix.scan", lambda: docs),
            ("prefix.tokenize", lambda: tokenize_documents_distinct_arrow(docs)),
            ("prefix.aggregate", lambda: build_index(docs, arrow_tokenizer=True)),
            ("prefix.format", lambda: formatted_index(docs, arrow_tokenizer=True)),
        ]
        with tr.extra(), tr.span("trace.prefix_probe", op_id):
            for name, make in steps:
                with tr.span(name, op_id):
                    make().write.format("noop").mode("overwrite").save()

    def check(self, out: str, op_id: int) -> bool:
        mutate = self.args.get("mutate")
        if mutate and op_id >= 0:
            mutate_letter_files(out, mutate)
        ok = True
        for name, want in self.expected.items():
            with open(os.path.join(out, name), "rb") as f:
                ok &= f.read() == want
        names = {n for n in os.listdir(out) if n.endswith(".txt")}
        ok &= names == set(self.expected)
        shutil.rmtree(out)
        return ok

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tracer
        med = lambda name: statistics.median(tr.durations(name)) * 1000  # noqa: E731
        scan, tok = med("prefix.scan"), med("prefix.tokenize")
        agg, fmt = med("prefix.aggregate"), med("prefix.format")
        return {
            "manifest.read_corpus_ms": med("manifest.read_corpus"),
            "manifest.scan_ms": scan,
            "text.tokenize_ms": tok - scan,
            "inverted_index.aggregate_ms": agg - tok,
            "inverted_index.format_ms": fmt - agg,
            "sinks.write_letter_index_ms": med("sinks.write_letter_index") - fmt,
            "sinks.collect_reference_layout_ms": med("sinks.collect_reference_layout"),
        }


def mutate_letter_files(out: str, how: str) -> None:
    """Self-test hook: damage the engine's output the way a bug would."""
    path = max(
        (os.path.join(out, n) for n in os.listdir(out) if n.endswith(".txt")),
        key=os.path.getsize,
    )
    with open(path, "rb") as f:
        data = bytearray(f.read())
    if how == "letter_byte":
        data[len(data) // 2] ^= 0x01
    elif how == "posting":
        first = data.index(b"\n")
        line = bytes(data[:first])
        head, ids = line[:-1].split(b":[")
        ids = ids.split(b" ")
        if len(ids) < 2:
            raise ValueError("posting mutation needs a word in two docs")
        data[:first] = head + b":[" + b" ".join(ids[1:]) + b"]"
    else:
        raise ValueError(f"unknown mutation {how!r}")
    with open(path, "wb") as f:
        f.write(bytes(data))


class QueryMix:
    """One op is one registered query: plan build, then execution to
    the noop sink.  Passes run the queries in the fixed order given by
    ``run.py``; the run counts whole passes."""

    def __init__(self, spark, args, tracer):
        self.spark = spark
        self.args = args
        self.tracer = tracer
        self.sf = args["sf_dir"]
        qs = registry.load_all()
        self.queries = [qs[n] for n in args["queries"]]
        self.cold_results = {}
        self.passed: dict[str, bool] = {}
        self.setup_parts: dict[str, float] = {}

    def setup(self) -> None:
        """First-touch staging, then one cold pass whose results are
        kept for the oracle check, then each of its plans once more to
        the noop sink: the timed passes write there, and without it the
        first timed pass runs ~25% slower than the second."""
        t = time.perf_counter()
        for name in sorted(data.FACT_TABLES):
            if os.path.exists(os.path.join(self.sf, f"{name}.parquet")):
                data.table(self.spark, self.sf, name)
        self.setup_parts["data.fixture_stage_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.index_dir = stored_index_dir(self.spark, self.sf, "flat")
        self.setup_parts["inverted_index.stored_index_build_s"] = time.perf_counter() - t
        plans = [q.fn(self.spark, self.sf) for q in self.queries]
        for q, df in zip(self.queries, plans):
            self.cold_results[q.name] = df.toPandas()
        for df in plans:
            df.write.format("noop").mode("overwrite").save()

    def op(self, op_id: int, q) -> None:
        span = self.tracer.span if self.tracer else no_span
        with span("query_mix.op", op_id):
            with span(f"q.{q.name}.build", op_id):
                df = q.fn(self.spark, self.sf)
            with span(f"q.{q.name}.exec", op_id):
                df.write.format("noop").mode("overwrite").save()

    def check(self) -> None:
        """Compare the cold pass with the registry's DuckDB oracle SQL;
        queries without an oracle must return rows."""
        import duckdb

        con = duckdb.connect()
        for fn in sorted(os.listdir(self.sf)):
            if fn.endswith(".parquet"):
                con.sql(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM '{self.sf}/{fn}'")
        oracle_cache: dict[str, object] = {}
        for q in self.queries:
            got = self.cold_results[q.name]
            if self.args.get("mutate") == "posting" and q.name == "boolean_and":
                got = got.iloc[1:]
            if q.oracle is None:
                self.passed[q.name] = len(got) > 0
                continue
            if q.oracle not in oracle_cache:
                oracle_cache[q.oracle] = con.sql(q.oracle).df()
            want = oracle_cache[q.oracle]
            self.passed[q.name] = (
                sorted(got.columns) == sorted(want.columns)
                and canonical(got).equals(canonical(want))
            )
        con.close()

    def lookup_probe(self, n_terms: int, seed: int) -> tuple[int, int]:
        """The read path on the stored index, split into plan and
        execution: Zipf-sampled terms plus absent ones, each checked
        against the model's postings.  Returns (checked, wrong)."""
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(self.sf, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pydict()
        index: dict[str, list[int]] = {}
        for doc_id, text in zip(docs["doc_id"], docs["text"]):
            for w in model.file_words(text.encode("utf-8")):
                index.setdefault(w, []).append(doc_id)
        by_freq = sorted(index, key=lambda w: (-len(index[w]), w))
        rng = np.random.default_rng(seed + 1)
        draw = corpus.zipf_sampler(rng, len(by_freq))
        terms = [by_freq[i] for i in draw(n_terms - n_terms // 10)]
        terms += corpus.absent_terms(rng, set(index), n_terms // 10)
        tr = self.tracer
        wrong = 0
        for i, term in enumerate(terms):
            with tr.span("sinks.lookup", i):
                with tr.span("sinks.lookup_plan", i):
                    df = lookup_term(self.spark, self.index_dir, term)
                with tr.span("sinks.lookup_exec", i):
                    rows = df.collect()
            want = sorted(index.get(term, []))
            got = [sorted(r["postings"]) for r in rows]
            wrong += got != ([want] if want else [])
        return len(terms), wrong

    def index_bytes_per_input_byte(self) -> float:
        def size(path):
            return sum(os.path.getsize(os.path.join(d, f))
                       for d, _, fs in os.walk(path) for f in fs)
        return size(self.index_dir) / os.path.getsize(
            os.path.join(self.sf, "documents.parquet"))


def canonical(df):
    """Order-insensitive form: columns by name, floats at 6 decimals,
    rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, np.ndarray):
            v = v.tolist()
        return str(v)

    out = df.apply(lambda col: col.map(cell))
    return out.sort_values(by=list(out.columns), ignore_index=True)


def main() -> int:
    args = json.loads(sys.argv[1])
    t_launch = args["t_launch"]
    spark = get_spark(f"perfbench_{args['workload']}")
    session_s = time.time() - t_launch
    jvm = spark.sparkContext._jvm
    tree = ProcessTree(int(jvm.java.lang.ProcessHandle.current().pid()))
    tracer = Tracer(time.perf_counter()) if args["trace"] else None
    seconds = args["seconds"]
    result: dict = {"host_jvm": jvm.java.lang.System.getProperty("java.version")}
    # seconds since launch at the end of each phase
    phases = {"session": session_s}

    with PssSampler(tree) as mem:
        if args["workload"] == "index_build":
            w = IndexBuild(spark, args, tracer)
            w.setup()
            setup_s = time.time() - t_launch
            phases["setup"] = setup_s
            for i in range(w.warmup_ops):
                w.warm_up(-2 - i)
            lat, ok, per_op = [], [], []
            mem.phase = "timed"
            c0 = tree.snapshot()
            t_end = time.perf_counter() + seconds
            i = 0
            while i == 0 or time.perf_counter() < t_end:
                s0 = tree.snapshot() if tracer else None
                t = time.perf_counter()
                try:
                    out = w.build(i)
                    lat.append(time.perf_counter() - t)
                    if tracer:
                        per_op.append(delta(s0, tree.snapshot()))
                    ok.append(w.check(out, i))
                except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                    print(f"op {i} failed: {e!r}", file=sys.stderr)
                    lat.append(time.perf_counter() - t)
                    ok.append(False)
                if tracer:
                    w.probe_layers(i)
                i += 1
            c1 = tree.snapshot()
            phases["timed"] = time.time() - t_launch
            layers = w.layer_metrics() if tracer else {}
            extra_checks = (0, 0)
        else:
            w = QueryMix(spark, args, tracer)
            w.setup()
            setup_s = time.time() - t_launch
            phases["setup"] = setup_s
            w.check()
            phases["check"] = time.time() - t_launch
            lat, ok, per_op = [], [], []
            mem.phase = "timed"
            c0 = tree.snapshot()
            t_end = time.perf_counter() + seconds
            i = 0
            while i == 0 or time.perf_counter() < t_end:
                for q in w.queries:
                    s0 = tree.snapshot() if tracer else None
                    t = time.perf_counter()
                    try:
                        w.op(i, q)
                        good = w.passed[q.name]
                    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                        print(f"{q.name} failed: {e!r}", file=sys.stderr)
                        good = False
                    lat.append(time.perf_counter() - t)
                    ok.append(good)
                    if tracer:
                        per_op.append(delta(s0, tree.snapshot()))
                    i += 1
            c1 = tree.snapshot()
            phases["timed"] = time.time() - t_launch
            layers = {}
            extra_checks = (0, 0)
            if tracer:
                for q in w.queries:
                    layers[f"q.{q.name}.build_ms"] = statistics.median(
                        tracer.durations(f"q.{q.name}.build")) * 1000
                    layers[f"q.{q.name}.exec_ms"] = statistics.median(
                        tracer.durations(f"q.{q.name}.exec")) * 1000
                layers.update(w.setup_parts)
                extra_checks = w.lookup_probe(args["lookup_terms"], args["seed"])
                layers["sinks.lookup_plan_ms"] = statistics.median(
                    tracer.durations("sinks.lookup_plan")) * 1000
                layers["sinks.lookup_exec_ms"] = statistics.median(
                    tracer.durations("sinks.lookup_exec")) * 1000
                layers["storage.index_bytes_per_input_byte"] = w.index_bytes_per_input_byte()
        phases["probe"] = time.time() - t_launch
        mem.phase = "probe"

    n = len(lat)
    used = delta(c0, c1)
    cpu_ms = (used["client_s"] + used["jvm_s"] + used["py_worker_s"]) * 1000 / n
    good = sum(ok)
    result.update({
        "attempted": n + extra_checks[0],
        "failed": (n - good) + extra_checks[1],
        "e2e": {
            "setup_s": setup_s,
            "ops_s": n / sum(lat),
            # each op weighs the same relative amount, whichever query it is
            "op_ms": math.exp(statistics.fmean(map(math.log, lat))) * 1000,
            "op_p50_ms": statistics.median(lat) * 1000,
            "op_p90_ms": quantile(lat, 0.9) * 1000,
            "cpu_ms_per_op": cpu_ms,
            "correct_ratio": good / n,
        },
        "latencies_s": lat,
        "phases_s": phases,
        "peak_pss_parts_mb": {k: v / 2**20 for k, v in mem.peak_parts.items()},
        "peak_pss_phases_mb": {k: v / 2**20 for k, v in mem.phase_peaks.items()},
    })
    if tracer:
        # per-op counters come from snapshots around each op only, so
        # probe work done for the trace is not charged to the op
        cpu = {k: sum(d[k] for d in per_op) / len(per_op) for k in per_op[0]}
        layers.update({
            "session.start_s": session_s,
            "cpu.client_ms_per_op": cpu["client_s"] * 1000,
            "cpu.jvm_ms_per_op": cpu["jvm_s"] * 1000,
            "cpu.py_worker_ms_per_op": cpu["py_worker_s"] * 1000,
            "io.jvm_write_bytes_per_op": cpu["jvm_write_bytes"],
            "trace.overhead_ms_per_op": tracer.overhead_s * 1000 / n,
            "op_p50_ms": result["e2e"]["op_p50_ms"],
            "op_p90_ms": result["e2e"]["op_p90_ms"],
            "mem.median_pss_mb": statistics.median(mem.timed_samples) / 2**20,
            "mem.peak_pss_mb": mem.peak / 2**20,
            "mem.setup_peak_pss_mb": mem.phase_peaks["setup"] / 2**20,
        })
        result["layers"] = layers
        result["spans"] = tracer.spans
    with open(os.path.join(args["work"], "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # run.py ends the JVM and its workers with the process group; a
    # graceful SparkContext stop would only add seconds to every run
    os._exit(code)
