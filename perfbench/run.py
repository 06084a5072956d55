"""spark-graft benchmark: one workload, one fresh Spark process, checked.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The command:

1. writes the synthetic tables once under ``perfbench/_data`` (fixed data
   seed; ``--seed`` only permutes the key order of each pass);
2. gives the run a fresh ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` under
   ``perfbench/_work``, removed at exit, and sets ``PYTHONPATH``,
   ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` to fit the host;
3. takes an extra set-up sample in a separate process, then runs the
   workload in ``worker.py``: a cold pass, a warm-up pass, then timed
   passes for ``--seconds``;
4. prints every metric with its unit and sample count, writes the full
   artifact to ``perfbench/_out``, and prints one JSON line last.

With ``--trace 0`` the JSON carries the end-to-end metrics; with
``--trace 1`` plain and traced passes alternate and it carries the
per-layer metrics, including the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import shutil
import signal
import subprocess
import sys
import time
from statistics import geometric_mean, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import END_TO_END, PER_LAYER, SF, WORKLOADS  # noqa: E402

SETUP_PROBES = 1  # set-up samples taken in extra processes, besides the worker's own
DEADLINE_S = 170.0  # the whole command ends within this many seconds
EXPECTED_LOG = re.compile(r"injected crash")  # fault injection inside the stream keys
LOG_PROBLEM = re.compile(r"\bERROR\b|Exception|Error:")
LOG_STAMP = re.compile(r"\d\d/\d\d/\d\d \d\d:\d\d:\d\d ")  # Spark's log4j line prefix


def host_env(work: str, host: dict) -> dict[str, str]:
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(host["cores"]),
        # the session defaults to a 32g heap; 2g holds every key at this sf
        "SPARK_GRAFT_DRIVER_MEM": "2g" if host["ram_gb"] >= 8 else "1g",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONHASHSEED": "0",
    })
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    return env


def _group_alive(pgid: int) -> bool:
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def run_child(cmd: list[str], env: dict, cwd: str, log, deadline: float) -> int:
    """Run ``cmd`` in its own process group and wait until every process in
    that group (the JVM and the Python workers too) has ended."""
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=log, stderr=log,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(deadline - time.monotonic(), 1.0))
    except subprocess.TimeoutExpired:
        rc = None
    # after a normal exit the JVM follows within seconds; kill what lingers
    grace_end = time.monotonic() + (10.0 if rc is not None else 0.0)
    while _group_alive(proc.pid):
        if time.monotonic() >= grace_end:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
        time.sleep(0.1)
    if rc is None:
        proc.wait()
        raise TimeoutError(f"{cmd[1]} exceeded the deadline")
    return rc


def attribute_log(path: str) -> list[dict]:
    """Tie every problem record of the worker's stderr (JVM log included)
    to the key whose marker line precedes it.

    A record is a timestamped log line with the stack-trace lines that
    follow it. It is expected when it is the stream keys' injected crash.
    """
    records: list[dict] = []
    key, pass_no, current = None, None, None
    with open(path, errors="replace") as f:
        for line in f:
            if line.startswith("perfbench-key "):
                _, key, _, pass_no = line.split()
                current = None
            elif LOG_STAMP.match(line):
                current = {"key": key, "pass": pass_no, "head": line.rstrip()[:300], "text": line}
                records.append(current)
            elif current is not None:
                current["text"] += line
    out = []
    for r in records:
        text = r.pop("text")
        if LOG_PROBLEM.search(text):
            out.append({**r, "expected": bool(EXPECTED_LOG.search(text)),
                        "lines": text.count("\n")})
    return out


def end_to_end(res: dict, probes: list[dict]) -> tuple[dict, dict]:
    """Metric values and their sample counts, from the worker's raw result."""
    setups = [(s["session.start_ms"] + s["registry.import_ms"]) / 1000.0
              for s in [res["setup"]] + probes]
    plain = [p for p in res["passes"] if p["kind"] == "plain"]
    per_key = {k: median([p["keys"][k] for p in plain]) for k in res["keys"]}
    values = {
        "setup_s": median(setups),
        "cold_pass_s": res["cold"]["seconds"],
        "pass_s": median([p["seconds"] for p in plain]),
        "query_geomean_s": geometric_mean(list(per_key.values())),
    }
    counts = {"setup_s": len(setups), "cold_pass_s": 1, "pass_s": len(plain),
              "query_geomean_s": len(per_key)}
    return values, counts


def layer_totals(res: dict, cpus: int) -> tuple[dict, dict]:
    """Workload figures of every per-layer metric, and per-key figures."""
    per_key = {}
    for key, runs in res["layers"].items():
        names = set().union(*runs)
        per_key[key] = {n: median([r.get(n, 0.0) for r in runs]) for n in sorted(names)}

    def total(name: str) -> float:
        return sum(m.get(name, 0.0) for m in per_key.values())

    plain = median([p["seconds"] for p in res["passes"] if p["kind"] == "plain"])
    traced = median([p["seconds"] for p in res["passes"] if p["kind"] == "traced"])
    values = {}
    for name, (_, _, how) in PER_LAYER.items():
        if how == "sum":
            values[name] = total(name)
        elif how == "max":
            values[name] = max(m.get(name, 0.0) for m in per_key.values())
    values["session.start_ms"] = res["setup"]["session.start_ms"]
    values["registry.import_ms"] = res["setup"]["registry.import_ms"]
    values["mem.jvm_hwm_mb"] = res["hwm_mb"]["jvm"]
    values["trace.overhead_frac"] = traced / plain - 1.0
    values["exec.busy_frac"] = total("exec.run_ms") / (total("wall.ms") * cpus)
    batches, inputs = total("stream.batches"), total("scan.input_bytes")
    values["stream.empty_batch_frac"] = total("stream.empty_batches") / batches if batches else 0.0
    values["sink.bytes_per_input_byte"] = total("sink.output_bytes") / inputs if inputs else 0.0
    return values, per_key


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Duration of ``span`` minus the part of it that ``children`` cover.

    Children may overlap each other or stick out of the parent; only their
    union inside the parent is subtracted.
    """
    start, end = span
    covered = 0.0
    cursor = start
    for c_start, c_end in sorted(children):
        c_start, c_end = max(c_start, cursor), min(c_end, end)
        if c_end > c_start:
            covered += c_end - c_start
            cursor = c_end
    return (end - start) - covered


def span_self_times(spans: list[dict]) -> list[dict]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        s["self_s"] = self_time((s["start"], s["end"]), children.get(s["id"], []))
    return spans


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        ram_kb = int(f.readline().split()[1])
    return {"cores": len(os.sched_getaffinity(0)), "ram_gb": round(ram_kb / 2**20, 1),
            "machine": platform.machine(), "loadavg_start": os.getloadavg()}


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def table_rows(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {name[: -len(".parquet")]: pq.ParquetFile(os.path.join(sf_dir, name)).metadata.num_rows
            for name in sorted(os.listdir(sf_dir)) if name.endswith(".parquet")}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()
    deadline = started + DEADLINE_S
    if not os.path.isfile(os.path.join(ROOT, "sparkgraft", "__init__.py")):
        print(f"perfbench: no sparkgraft package under {ROOT}", file=sys.stderr)
        return 2

    import datagen

    host = host_facts()
    sf_dir = datagen.ensure_dataset(os.path.join(HERE, "_data"), SF)
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        env = host_env(work, host)
        worker = [sys.executable, os.path.join(HERE, "worker.py"),
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--sf-dir", sf_dir]
        probes = []
        with open(os.path.join(work, "probe.log"), "w") as log:
            for i in range(SETUP_PROBES):
                out = os.path.join(work, f"probe{i}.json")
                rc = run_child(worker + ["--out", out, "--setup-only"], env, work, log, deadline)
                if rc != 0:
                    raise RuntimeError(f"set-up probe exited with {rc}")
                with open(out) as f:
                    probes.append(json.load(f)["setup"])
        log_path = os.path.join(work, "worker.log")
        out = os.path.join(work, "result.json")
        with open(log_path, "w") as log:
            rc = run_child(worker + ["--out", out], env, work, log, deadline)
        log_lines = attribute_log(log_path)
        if rc != 0:
            with open(log_path, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise RuntimeError(f"worker exited with {rc}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_end"] = os.getloadavg()

    attempted, failed = res["attempted"], len(res["errors"])
    plain_s = [p["seconds"] for p in res["passes"] if p["kind"] == "plain"]
    values, counts = end_to_end(res, probes)
    artifact = {
        "workload": args.workload, "why": WORKLOADS[args.workload]["why"],
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host, "commit": git_commit(), "versions": res["versions"],
        "sf": SF, "tables": table_rows(sf_dir), "keys": res["keys"],
        "warmup_passes": len(res["warmups"]),
        "hwm_mb": res["hwm_mb"],
        "warmup_level": plain_s[0] / median(plain_s) - 1.0,
        "pass_seconds": {"cold": res["cold"]["seconds"],
                         "warmup": [p["seconds"] for p in res["warmups"]],
                         "window": [[p["kind"], p["seconds"]] for p in res["passes"]]},
        "key_runs": {k: [p["keys"][k] for p in [res["cold"], *res["warmups"], *res["passes"]]]
                     for k in res["keys"]},
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "errors": res["errors"], "log": log_lines,
        "end_to_end": {n: {"value": values[n], "unit": END_TO_END[n][0], "n": counts[n]}
                       for n in END_TO_END},
    }
    lines = [f"{n} {values[n]:.4f} {END_TO_END[n][0]} (n={counts[n]})" for n in END_TO_END]
    lines.append(f"failed_frac {failed / attempted:.4f} ratio (n={attempted})")
    if args.trace:
        layer_values, per_key = layer_totals(res, host["cores"])
        metrics = {n: {"value": layer_values[n], "unit": PER_LAYER[n][0]} for n in PER_LAYER}
        artifact.update(per_layer=metrics, per_key=per_key, spans=span_self_times(res["spans"]))
        lines += [f"{n} {layer_values[n]:.4f} {PER_LAYER[n][0]}" for n in PER_LAYER]
    else:
        metrics = {n: {"value": values[n], "unit": END_TO_END[n][0]} for n in END_TO_END}

    os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
    path = os.path.join(HERE, "_out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    for line in lines:
        print(f"{args.workload} {line}")
    print(f"artifact {os.path.relpath(path, ROOT)} ({time.monotonic() - started:.1f} s)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
