"""bench.py's graded stdout line and BENCH_trace.json keys.

`main()` runs from a copy of bench.py under ``tmp_path`` (it writes its
trace and clean-run files beside itself, never into the checkout), with
the session, the registry and the timing functions faked: no Spark.
"""

from __future__ import annotations

import importlib.util
import json
import shutil
from pathlib import Path
from types import SimpleNamespace

ROOT = Path(__file__).resolve().parents[1]

STDOUT_KEYS = [
    "metric", "value", "unit", "queries", "sf", "stat",
    *(f"group{n}_total" for n in range(2, 14)),
    "loadavg_start", "loadavg_bounds", "load_ok", "host_probe",
    "host_probe_start", "host_probe_end", "host_probe_ref",
    "scaling_probe", "scaling_probe_cpus", "normalized_totals",
    "trace_file",
]


def _load_bench_copy(tmp_path: Path):
    copy = tmp_path / "bench.py"
    shutil.copy(ROOT / "bench.py", copy)
    spec = importlib.util.spec_from_file_location("bench_copy", copy)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_main_prints_the_pinned_line(tmp_path, monkeypatch, capsys):
    bench = _load_bench_copy(tmp_path)
    all_keys = bench.HEADLINE + [k for g in bench.GROUPS.values() for k in g]
    fake_spark = SimpleNamespace(
        sparkContext=SimpleNamespace(
            setLogLevel=lambda level: None, defaultParallelism=32
        )
    )
    monkeypatch.setattr(
        bench, "sparkgraft",
        SimpleNamespace(QUERIES=set(all_keys), get_session=lambda name: fake_spark),
    )

    def fake_time_group(spark, sf_dir, keys, loadavg_samples):
        loadavg_samples.extend([[2.0, 2.0, 2.0]] * len(keys))
        return ({k: 1.2345 for k in keys},
                {k: [1.2345] * bench.TIMED_REPS for k in keys})

    monkeypatch.setattr(bench, "_time_group", fake_time_group)
    monkeypatch.setattr(bench, "_probe", lambda spark, sf_dir: 0.4)
    monkeypatch.setattr(bench, "_scaling_probe", lambda spark: 3.21)
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (2.0, 2.0, 2.0))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")

    assert bench.main() == 0
    line = capsys.readouterr().out.strip()
    assert "\n" not in line and len(line) < 1536
    result = json.loads(line)
    assert list(result) == STDOUT_KEYS
    assert result["value"] == round(1.2345 * len(bench.HEADLINE), 4)
    assert result["queries"]["scaling_probe"] == 3.21
    assert result["sf"] == 0.1 and result["load_ok"] is False
    assert result["group13_total"] == round(
        1.2345 * len(bench.GROUP13), 4
    )
    assert list(result["normalized_totals"]) == ["headline"] + [
        f"g{n}" for n in range(2, 14)
    ]
    assert len(result["loadavg_bounds"]) == 1 + 1 + 12

    trace = json.loads((tmp_path / "BENCH_trace.json").read_text())
    assert list(trace) == STDOUT_KEYS + [
        *(f"group{n}_queries" for n in range(2, 14)),
        "runs",
        *(f"group{n}_runs" for n in range(2, 14)),
        "loadavg",
    ]
    assert trace["group7_queries"] == {k: 1.2345 for k in bench.GROUP7}
    # a loaded run (load_ok false) persists no clean-run artifact
    assert sorted(p.name for p in tmp_path.iterdir()) == [
        "BENCH_trace.json", "bench.py"
    ]
