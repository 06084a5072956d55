"""One benchmark process: start Spark, run one workload, write raw results.

Started by ``run.py`` with an isolated environment (``TMPDIR``,
``SPARK_LOCAL_DIRS``, ``PYTHONPATH``, core count and heap size already set)
so that each workload runs in a fresh Spark process.

    python3 worker.py --workload olap_star --seed 1 --seconds 15 --trace 0 \
        --sf-dir DIR --out result.json [--setup-only]

``--setup-only`` starts the session, imports the registry and stops:
``run.py`` uses it to take more than one set-up sample per run.

Every key execution is checked against its DuckDB oracle; exceptions are
caught per key and counted as failures. A marker line on stderr opens each
key, so ``run.py`` can tie any JVM log line to the key that caused it.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

from workloads import WORKLOADS

# Untimed passes after the cold one. One removes the cold pass's one-time
# costs; the JIT keeps timed passes falling by about a tenth more over the
# next three, alike in every run. More warm-up does not fit the run budget.
# run.py records the first timed pass over the median as ``warmup_level``.
WARMUP_PASSES = 1


def fingerprint(pdf) -> tuple | None:
    """Column names, dtypes and the sorted row hashes of a result: equal
    fingerprints mean equal multisets of rows. ``None`` when a column
    cannot be hashed."""
    import numpy as np  # not at module top: the registry import, which is timed, loads pandas
    import pandas as pd

    cols = sorted(pdf.columns)
    try:
        hashes = pd.util.hash_pandas_object(pdf[cols], index=False).to_numpy()
    except TypeError:
        return None
    return tuple(cols), tuple(str(pdf[c].dtype) for c in cols), np.sort(hashes).tobytes()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runner:
    def __init__(self, spark, queries, oracle_sql, sf_dir, keys, trace):
        from sparkgraft.oracle import duckdb_connect

        self.spark, self.sc = spark, spark.sparkContext
        self.queries, self.sf_dir = queries, sf_dir
        con = duckdb_connect(sf_dir)
        self.expected = {k: con.execute(oracle_sql[k]).df() for k in keys}
        con.close()
        self.passed: dict[str, tuple] = {}  # key -> fingerprint of a result that matched
        self.attempted = 0
        self.errors: list[dict] = []
        self.pass_no = 0
        if trace:
            import layers

            self.layers = layers
            self.tracer = layers.Tracer()
            self.streams = layers.StreamRecorder()
            spark.streams.addListener(self.streams)
            self.key_spans: list[tuple[int, str]] = []  # (key span id, key)
            self.key_layers: dict[int, dict[str, float]] = {}

    def run_pass(self, order: list[str], kind: str) -> dict:
        traced = kind == "traced"
        self.pass_no += 1
        span = self.tracer.open("pass", None) if traced else None
        times = {}
        for key in order:
            times[key] = self.run_key(key, traced)
        if traced:
            self.tracer.close(span)
        return {"kind": kind, "seconds": sum(times.values()), "keys": times}

    def run_key(self, key: str, traced: bool) -> float:
        print(f"perfbench-key {key} pass {self.pass_no}", file=sys.stderr, flush=True)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if traced:
                # the key span only: readings taken after it are not timed
                pdf = self.traced_key(key)
                seconds = self.key_layers[self.key_spans[-1][0]]["wall.ms"] / 1000.0
            else:
                pdf = self.queries[key](self.spark, self.sf_dir).toPandas()
                seconds = time.perf_counter() - t0
        except Exception as exc:  # a key's failure must not stop the run
            seconds = time.perf_counter() - t0
            self.errors.append({"key": key, "pass": self.pass_no, "error": repr(exc),
                                "traceback": traceback.format_exc()})
            return seconds
        problems = self.check(key, pdf)
        if problems:
            self.errors.append({"key": key, "pass": self.pass_no,
                                "error": "wrong result", "problems": problems})
        return seconds

    def check(self, key: str, pdf) -> list[str]:
        """Compare with the DuckDB oracle. A result equal to one that already
        passed is recognised by its fingerprint, which costs milliseconds
        where the oracle's row-by-row canonical form costs seconds."""
        mark = fingerprint(pdf)
        if mark is not None and mark == self.passed.get(key):
            return []
        from sparkgraft.oracle import compare_frames

        problems = compare_frames(pdf, self.expected[key])
        if not problems and mark is not None:
            self.passed[key] = mark
        return problems

    def traced_key(self, key: str):
        L, tr, sc = self.layers, self.tracer, self.sc
        group = f"pb{self.pass_no}.{key}"
        before = L.file_snapshot(os.environ["TMPDIR"])
        ks = tr.open("key", key)
        self.streams.active = (key, ks)
        m: dict[str, float] = {}
        try:
            sc.setJobGroup(group + ".build", key)
            span, t = tr.open("build"), time.perf_counter()
            df = self.queries[key](self.spark, self.sf_dir)
            m["build.ms"] = (time.perf_counter() - t) * 1000.0
            tr.close(span)
            span = tr.open("plan")
            m.update(L.catalyst_phases(df))
            tr.close(span)
            sc.setJobGroup(group + ".exec", key)
            span, t = tr.open("execute"), time.perf_counter()
            pdf = df.toPandas()
            m["execute.ms"] = (time.perf_counter() - t) * 1000.0
            tr.close(span)
        finally:
            self.streams.active = None
            tr.close_through(ks)  # also closes a phase that raised
            sc.setLocalProperty("spark.jobGroup.id", None)
        m["wall.ms"] = (tr.spans[ks]["end"] - tr.spans[ks]["start"]) * 1000.0
        m["result.rows"] = float(len(pdf))
        m["sink.files_written"] = float(len(L.file_snapshot(os.environ["TMPDIR"]) - before))
        runs = self.streams.run_ids(ks)
        m["build.jobs"] = L.job_metrics(sc, [group + ".build"])["exec.jobs"]
        m.update(L.job_metrics(sc, [group + ".build", group + ".exec"] + runs))
        plan, tables = L.plan_metrics(df, self.sf_dir)
        m.update(plan)
        m.update(self.catalog_loads(group + ".load", key, sorted(tables)))
        self.key_spans.append((ks, key))
        self.key_layers[ks] = m
        return pdf

    def catalog_loads(self, group: str, key: str, tables: list[str]) -> dict[str, float]:
        """Time ``sparkgraft.load`` once per table the key's plan scans, each
        as its own call: operator modules bind ``load`` by name, so it
        cannot be wrapped in place."""
        from sparkgraft import load

        self.sc.setJobGroup(group, key)
        span = self.tracer.open("catalog", key)
        t = time.perf_counter()
        for table in tables:
            load(self.spark, self.sf_dir, table)
        ms = (time.perf_counter() - t) * 1000.0
        self.tracer.close(span)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = self.layers.job_metrics(self.sc, [group])["exec.jobs"]
        return {"catalog.load_ms": ms, "catalog.load_jobs": jobs}

    def key_layer_table(self) -> dict[str, list[dict[str, float]]]:
        """Per key, one dict of layer figures per traced pass."""
        time.sleep(1.0)  # let the listener bus deliver the last stream events
        for ks, stream in self.streams.harvest(self.tracer).items():
            self.key_layers[ks].update(stream)
        out: dict[str, list[dict[str, float]]] = {}
        for ks, key in self.key_spans:
            out.setdefault(key, []).append(self.key_layers[ks])
        return out


def timed_setup() -> tuple[object, dict, dict]:
    t0 = time.perf_counter()
    import sparkgraft

    spark = sparkgraft.get_session("perfbench")
    t1 = time.perf_counter()
    queries, oracle = sparkgraft.QUERIES, sparkgraft.ORACLE
    t2 = time.perf_counter()
    setup = {"session.start_ms": (t1 - t0) * 1000.0, "registry.import_ms": (t2 - t1) * 1000.0}
    return spark, setup, (queries, oracle)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--setup-only", action="store_true")
    args = ap.parse_args(argv)

    spark, setup, (queries, oracle) = timed_setup()
    result: dict = {"setup": setup}
    try:
        if not args.setup_only:
            result.update(run_workload(spark, queries, oracle, args))
    finally:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        result["hwm_mb"] = {"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb("self")}
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def run_workload(spark, queries, oracle, args) -> dict:
    keys = WORKLOADS[args.workload]["keys"]
    runner = Runner(spark, queries, oracle, args.sf_dir, keys, bool(args.trace))
    rng = random.Random(args.seed)

    def order() -> list[str]:
        o = list(keys)
        rng.shuffle(o)
        return o

    cold = runner.run_pass(order(), "cold")
    warmups = [runner.run_pass(order(), "warmup") for _ in range(WARMUP_PASSES)]

    passes = []
    kinds = ("plain", "traced") if args.trace else ("plain",)
    # Timed passes fill --seconds: a pass starts only if one more like the
    # last fits, and there are at least two.
    window_start = time.perf_counter()
    if args.trace:
        workload_span = runner.tracer.open("workload", None)
    while len(passes) < 2 or (
        time.perf_counter() - window_start + passes[-1]["seconds"] <= args.seconds
    ):
        passes.append(runner.run_pass(order(), kinds[len(passes) % len(kinds)]))
    if args.trace:
        runner.tracer.close(workload_span)

    out = {
        "keys": keys,
        "cold": cold,
        "warmups": warmups,
        "passes": passes,
        "attempted": runner.attempted,
        "errors": runner.errors,
        "versions": {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            **_py_versions(),
        },
    }
    if args.trace:
        out["layers"] = runner.key_layer_table()
        out["spans"] = runner.tracer.spans
    return out


def _py_versions() -> dict[str, str]:
    import pandas
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__, "python": sys.version.split()[0]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
