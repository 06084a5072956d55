"""Focused tests for the r14 optimization round's changed internals.

`_write_with_probe` (sparkgraft/streaming.py) replaced the per-batch
persist + distinct-collect + write triple inside the CDF protocol keys'
foreachBatch sinks with ONE observed write; the lazy package __init__
replaced the eager import of every operator module. Both must be
semantically identical to what they replaced — these tests pin that,
independent of the protocol keys that use them.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

from pyspark.sql import functions as F


def test_write_with_probe_matches_distinct_collect(spark):
    """The observed write returns exactly distinct(probe_col) AND lands
    exactly the input rows on disk — the two halves of the persist +
    collect + write shape it replaced."""
    from sparkgraft.streaming import _write_with_probe

    df = spark.createDataFrame(
        [(1, "fact", 10), (1, "dim", 20), (2, "fact", 30), (2, "fact", 30)],
        "txn int, tbl string, cents long",
    )
    out = os.path.join(tempfile.mkdtemp(), "probe")

    vs = _write_with_probe(df, out, "txn")
    assert sorted(vs) == [1, 2]

    # struct probe (the stream_cdf_txn_checkpoint shape): collect_set
    # of a struct dedups exactly like select(...).distinct()
    pairs = _write_with_probe(df, out, F.struct("txn", "tbl"))
    assert sorted((r["txn"], r["tbl"]) for r in pairs) == [
        (1, "dim"),
        (1, "fact"),
        (2, "fact"),
    ]

    # the write half: exactly the input rows landed (duplicates kept)
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_write_with_probe_empty_batch(spark):
    """Zero-event micro-batches (rewrite/metadata-only commits) must
    yield an empty probe, exactly like distinct().collect() did."""
    from sparkgraft.streaming import _write_with_probe

    df = spark.createDataFrame([], "version int, cents long")
    out = os.path.join(tempfile.mkdtemp(), "empty")
    assert _write_with_probe(df, out, "version") == []
    assert spark.read.parquet(out).count() == 0


def test_lazy_init_registry_complete():
    """The PEP 562 lazy __init__ must expose the same fully-populated
    registry the eager form did — checked in a FRESH interpreter so the
    laziness itself is exercised, not this session's warm state."""
    code = (
        "import sparkgraft\n"
        "assert len(sparkgraft.QUERIES) >= 495, len(sparkgraft.QUERIES)\n"
        "assert len(sparkgraft.ORACLE) >= 491, len(sparkgraft.ORACLE)\n"
        "assert sparkgraft.QUERIES is __import__("
        "'sparkgraft.registry', fromlist=['QUERIES']).QUERIES\n"
        "import sparkgraft.scans  # submodule import path stays valid\n"
        "from sparkgraft import ranking  # __getattr__ submodule path\n"
        "print('OK', len(sparkgraft.QUERIES))\n"
    )
    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=env,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.startswith("OK")


def test_lazy_init_submodule_import_is_light():
    """Importing one submodule must NOT pull in the whole engine (the
    r14 point of the lazy __init__: short-lived Python workers pay only
    for what the pickled object references). `sparkgraft.table` — the
    table format a worker imports when it unpickles a change-feed
    reader — must load no operator module at all."""
    proofs_code = (
        "import sys\n"
        "import sparkgraft.proofs\n"
        "loaded = [m for m in sys.modules if m.startswith('sparkgraft')]\n"
        "heavy = [m for m in loaded if any(h in m for h in ("
        "'vectorops', 'textops', 'graph', 'aggregates'))]\n"
        "assert not heavy, heavy\n"
        "print('OK')\n"
    )
    table_code = (
        "import sys\n"
        "import sparkgraft.table\n"
        "import sparkgraft\n"
        "ops = {f'sparkgraft.{m}' for m in sparkgraft._OPERATOR_MODULES}\n"
        "heavy = [m for m in sys.modules\n"
        "         if any(m == op or m.startswith(op + '.') for op in ops)]\n"
        "assert not heavy, heavy\n"
        "print('OK')\n"
    )
    env = dict(os.environ)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    for code in (proofs_code, table_code):
        res = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True,
            text=True,
            env=env,
            timeout=120,
        )
        assert res.returncode == 0, res.stderr


def test_lazy_getattr_missing_submodule_is_attribute_error():
    """`sparkgraft.<name>` for a submodule that does not exist stays an
    AttributeError (what hasattr/getattr callers expect)."""
    import pytest

    import sparkgraft

    with pytest.raises(AttributeError, match="no_such_module"):
        sparkgraft.no_such_module
    assert not hasattr(sparkgraft, "no_such_module")


def test_lazy_getattr_surfaces_missing_dependency(tmp_path, monkeypatch):
    """A submodule that EXISTS but fails on a missing third-party
    package must surface that ModuleNotFoundError, not be masked as
    'module sparkgraft has no attribute ...'."""
    import pytest

    import sparkgraft

    (tmp_path / "needs_missing_dep.py").write_text(
        "import sparkgraft_no_such_dependency  # noqa: F401\n"
    )
    # the submodule lives in a temp dir appended to the package path
    monkeypatch.setattr(
        sparkgraft, "__path__", [*sparkgraft.__path__, str(tmp_path)]
    )
    with pytest.raises(ModuleNotFoundError) as exc:
        sparkgraft.needs_missing_dep
    assert exc.value.name == "sparkgraft_no_such_dependency"


def test_write_with_probe_rejects_null_probe(spark):
    """`collect_set` skips NULLs, so a change row with a NULL version
    would pass the single-commit guard unseen; the observed write
    counts NULL probe values on the same pass and raises."""
    import pytest

    from sparkgraft.streaming import _write_with_probe

    df = spark.createDataFrame(
        [(1, 10), (None, 20)], "version int, cents long"
    )
    out = os.path.join(tempfile.mkdtemp(), "null_probe")
    with pytest.raises(RuntimeError, match="NULL probe"):
        _write_with_probe(df, out, "version")
