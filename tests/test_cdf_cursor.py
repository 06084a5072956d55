"""The offset cursor every partitioned change-feed reader shares
(`sparkgraft.streaming._cdf_cursor_base`), checked once per reader
built on it. Driver-side only: planning reads KB manifests, so the
logs here list files that never need to exist."""

from __future__ import annotations

import json
import os

import pytest

from sparkgraft import streaming

READERS = {
    "partitioned": streaming._snapshot_cdf_partitioned_datasource,
    "mor": streaming._mor_cdf_datasource,
    "doc": streaming._doc_cdf_datasource,
    "txn": streaming._txn_cdf_datasource,
}
N_VERSIONS = 3


def _log(tmp_path) -> str:
    """A 3-commit append log readable by both manifest shapes: the
    single-table ``files`` list and the txn root's ``tables`` map."""
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    files: list[str] = []
    for v in range(1, N_VERSIONS + 1):
        files = files + [f"/data/f{v}.parquet"]
        (log_dir / f"v{v}.json").write_text(
            json.dumps(
                {"snapshot": v, "files": files, "tables": {"fact": files}}
            )
        )
    return str(log_dir)


def _reader(kind: str, log_dir: str, state_dir: str | None = None):
    options = {"log_dir": log_dir}
    if state_dir:
        options["state_dir"] = state_dir
    return READERS[kind]()(options).streamReader(None)


@pytest.mark.parametrize("kind", sorted(READERS))
def test_cursor_contract(kind, tmp_path):
    log_dir = _log(tmp_path)
    state_dir = str(tmp_path / "state")

    # a fresh start (no cursor) begins at version 0
    assert _reader(kind, log_dir).initialOffset() == {"version": 0}

    # latestOffset advances ONE version per call, then holds at the head
    r = _reader(kind, log_dir)
    assert [r.latestOffset()["version"] for _ in range(4)] == [1, 2, 3, 3]

    # a replayed partitions(start, end) re-syncs the in-memory cursor
    r = _reader(kind, log_dir)
    r.partitions({"version": 1}, {"version": 2})
    assert r.latestOffset() == {"version": 3}

    # commit persists the cursor; a new instance resumes from it
    r = _reader(kind, log_dir, state_dir)
    r.commit({"version": 2})
    assert os.path.exists(os.path.join(state_dir, "last_committed.json"))
    resumed = _reader(kind, log_dir, state_dir)
    assert resumed.initialOffset() == {"version": 2}
    assert resumed.latestOffset() == {"version": 3}
    # initialOffset keeps reporting the restored cursor after a poll
    assert resumed.initialOffset() == {"version": 2}

    # initialOffset resumes from a cursor written into state_dir
    with open(os.path.join(state_dir, "last_committed.json"), "w") as fh:
        json.dump({"version": 1}, fh)
    assert _reader(kind, log_dir, state_dir).initialOffset() == {
        "version": 1
    }


@pytest.mark.parametrize("kind", sorted(READERS))
def test_unpickled_reader_imports_only_the_table_format(kind, tmp_path):
    """A Python worker that unpickles a feed reader imports
    `sparkgraft.table` and no operator module (checked in a fresh
    interpreter, the worker's situation)."""
    import subprocess
    import sys

    from pyspark import cloudpickle

    blob = cloudpickle.dumps(_reader(kind, _log(tmp_path)))
    code = (
        "import pickle, sys\n"
        "pickle.loads(sys.stdin.buffer.read())\n"
        "print(sorted(m for m in sys.modules if m.startswith('sparkgraft')))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    res = subprocess.run(
        [sys.executable, "-c", code],
        input=blob,
        capture_output=True,
        env=env,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr.decode()
    assert res.stdout.decode().strip() == "['sparkgraft', 'sparkgraft.table']"
