"""Property tests for the snapshot-log table format (sparkgraft/table.py).

A Hypothesis state machine drives the real commit, rewrite, expiry and
ref calls against an in-memory model of the log: {version -> file set}
plus {ref -> version}. After every step each live manifest, the head
and every ref must read back exactly as the model says. Two more tests
pin what the model cannot: concurrent publishers on one version, and
that the module stays free of pyspark at import. Standard library and
Hypothesis only; no Spark session is started.
"""

from __future__ import annotations

import ast
import os
import re
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest
from hypothesis import settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    invariant,
    precondition,
    rule,
)

from sparkgraft.table import (
    MOR_DELETE_CLASS,
    CommitConflict,
    commit_rewrite,
    commit_snapshot,
    drop_ref,
    empty_log,
    expire_snapshots,
    get_ref,
    head_files,
    head_version,
    is_delete_file,
    log_versions,
    read_manifest,
    ref_files,
    set_ref,
    try_publish,
)

REPO = Path(__file__).resolve().parents[1]
REF_NAMES = ("main", "audit", "tag_v1")


class TableLog(RuleBasedStateMachine):
    """One table: a log dir, a refs dir and the data files its commits
    name. The model is what the log must read back as."""

    def __init__(self):
        super().__init__()
        self.root = tempfile.mkdtemp(prefix="sg-table-props-")
        self.log_dir = os.path.join(self.root, "log")
        self.refs_dir = os.path.join(self.root, "refs")
        empty_log(self.log_dir)
        empty_log(self.refs_dir)
        os.makedirs(os.path.join(self.root, MOR_DELETE_CLASS))
        self.model: dict[int, frozenset[str]] = {}
        self.refs: dict[str, int] = {}
        self.n_files = 0

    def teardown(self):
        shutil.rmtree(self.root, ignore_errors=True)

    def _new_files(self, n: int, delete: bool = False) -> list[str]:
        out = []
        for _ in range(n):
            self.n_files += 1
            d = os.path.join(self.root, MOR_DELETE_CLASS) if delete else self.root
            path = os.path.join(d, f"f{self.n_files:04d}.parquet")
            Path(path).touch()
            out.append(path)
        return out

    @property
    def head(self) -> int:
        return max(self.model) if self.model else 0

    def _head_set(self) -> frozenset[str]:
        return self.model[self.head] if self.model else frozenset()

    def _expect_conflict(self, call) -> None:
        before = log_versions(self.log_dir)
        with pytest.raises(CommitConflict):
            call()
        assert log_versions(self.log_dir) == before  # no manifest written

    # --- commits ---

    @rule(n=st.integers(min_value=1, max_value=3))
    def append(self, n):
        adds = self._new_files(n)
        version, retries = commit_snapshot(self.log_dir, adds)
        assert (version, retries) == (self.head + 1, 0)
        self.model[version] = self._head_set() | frozenset(adds)

    @rule()
    def equality_delete(self):
        adds = self._new_files(1, delete=True)
        version, _ = commit_snapshot(
            self.log_dir, adds, extra={"op": "mor-delete"}
        )
        self.model[version] = self._head_set() | frozenset(adds)

    @precondition(lambda self: self.model)
    @rule(data=st.data(), n_add=st.integers(min_value=0, max_value=2))
    def rewrite(self, data, n_add):
        head = sorted(self._head_set())
        removes = data.draw(
            st.lists(st.sampled_from(head), min_size=1, unique=True)
            if head
            else st.just([])
        )
        adds = self._new_files(n_add)
        version, _ = commit_rewrite(
            self.log_dir, adds, remove_files=removes, planned_at=self.head
        )
        assert version == self.head + 1
        assert read_manifest(self.log_dir, version)["op"] == "rewrite"
        self.model[version] = (self._head_set() - set(removes)) | set(adds)

    @precondition(
        lambda self: any(
            f not in self._head_set() for fs in self.model.values() for f in fs
        )
    )
    @rule(data=st.data())
    def rewrite_of_removed_file_conflicts(self, data):
        gone = sorted(
            {f for fs in self.model.values() for f in fs} - self._head_set()
        )
        stale = data.draw(st.sampled_from(gone))
        self._expect_conflict(
            lambda: commit_rewrite(
                self.log_dir, [], remove_files=[stale], planned_at=self.head
            )
        )

    @precondition(
        lambda self: any(
            any(is_delete_file(f) for f in self.model[v] - self.model[v - 1])
            for v in self.model
            if v - 1 in self.model
        )
    )
    @rule(data=st.data())
    def rewrite_planned_before_a_delete_conflicts(self, data):
        # a plan at v-1 is stale once v added a tombstone: committing it
        # would resurrect the tombstone's rows in the rewritten files
        stale_plans = sorted(
            v - 1
            for v in self.model
            if v - 1 in self.model
            and any(
                is_delete_file(f) for f in self.model[v] - self.model[v - 1]
            )
        )
        planned_at = data.draw(st.sampled_from(stale_plans))
        removes = sorted(
            f
            for f in self.model[planned_at] & self._head_set()
            if not is_delete_file(f)
        )
        self._expect_conflict(
            lambda: commit_rewrite(
                self.log_dir,
                self._new_files(1),
                remove_files=removes,
                planned_at=planned_at,
            )
        )

    # --- refs ---

    @precondition(lambda self: self.model)
    @rule(name=st.sampled_from(REF_NAMES), data=st.data())
    def point_ref(self, name, data):
        version = data.draw(st.sampled_from(sorted(self.model)))
        set_ref(self.refs_dir, name, version)
        self.refs[name] = version

    @precondition(lambda self: self.refs)
    @rule(data=st.data())
    def remove_ref(self, data):
        name = data.draw(st.sampled_from(sorted(self.refs)))
        drop_ref(self.refs_dir, name)
        del self.refs[name]

    # --- expiry ---

    @precondition(lambda self: self.model)
    @rule(k=st.integers(min_value=1, max_value=4))
    def expire(self, k):
        versions = sorted(self.model)
        retained, expired, orphans = expire_snapshots(self.log_dir, k)
        assert retained == versions[-k:]
        assert expired == versions[:-k]
        live = set().union(*(self.model[v] for v in retained))
        only_expired = set().union(
            *(self.model[v] for v in expired)
        ) - live
        assert set(orphans) == only_expired
        assert not any(os.path.exists(f) for f in orphans)
        assert all(os.path.exists(f) for f in live)
        for v in expired:
            del self.model[v]
        for name, v in list(self.refs.items()):
            if v in expired:  # a ref to an expired snapshot is dangling
                drop_ref(self.refs_dir, name)
                del self.refs[name]

    # --- what the log must read back as ---

    @invariant()
    def manifests_match_model(self):
        assert log_versions(self.log_dir) == sorted(self.model)
        for v, files in self.model.items():
            assert read_manifest(self.log_dir, v)["files"] == sorted(files)

    @invariant()
    def head_matches_model(self):
        assert head_version(self.log_dir) == self.head
        if self.model:
            assert head_files(self.log_dir) == sorted(self._head_set())

    @invariant()
    def refs_match_model(self):
        assert sorted(os.listdir(self.refs_dir)) == sorted(self.refs)
        for name, v in self.refs.items():
            assert get_ref(self.refs_dir, name) == v
            assert ref_files(self.log_dir, self.refs_dir, name) == sorted(
                self.model[v]
            )


TableLog.TestCase.settings = settings(
    max_examples=60, stateful_step_count=25, deadline=None
)
test_table_log_matches_model = TableLog.TestCase


_PUBLISHER = """
import os, sys, time
from sparkgraft.table import try_publish
log_dir, version, go, n = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
files = [f"/w{n}/f{i:04d}.parquet" for i in range(500)]
while not os.path.exists(go):
    time.sleep(0.0005)
print(try_publish(log_dir, version, files, extra={"writer": int(n)}))
"""


def test_racing_publishers_have_one_complete_winner(tmp_path):
    """4 processes publish the same version at once, 3 rounds: exactly
    one wins each round and the manifest it leaves is complete."""
    log_dir = tmp_path / "log"
    empty_log(str(log_dir))
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    for version in (1, 2, 3):
        go = tmp_path / f"go{version}"
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", _PUBLISHER, str(log_dir),
                 str(version), str(go), str(n)],
                stdout=subprocess.PIPE, text=True, env=env,
            )
            for n in range(4)
        ]
        go.touch()
        results = [p.communicate(timeout=60)[0].strip() for p in procs]
        assert all(p.returncode == 0 for p in procs)
        assert sorted(results) == ["False", "False", "False", "True"]
        winner = results.index("True")
        manifest = read_manifest(str(log_dir), version)
        assert manifest["writer"] == winner
        assert manifest["snapshot"] == version
        assert manifest["files"] == [
            f"/w{winner}/f{i:04d}.parquet" for i in range(500)
        ]
    assert log_versions(str(log_dir)) == [1, 2, 3]
    # no writer left its private temp manifest behind
    assert sorted(os.listdir(log_dir)) == ["v1.json", "v2.json", "v3.json"]
    assert not try_publish(str(log_dir), 3, [])


def test_table_import_loads_no_pyspark():
    """Python workers that unpickle a feed reader import this module;
    it must not pull pyspark in."""
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, sparkgraft.table; "
         "print(sorted(m for m in sys.modules "
         "if m.split('.')[0] == 'pyspark'))"],
        capture_output=True, text=True, check=True, cwd=REPO,
    ).stdout.strip()
    assert out == "[]"


# --- the format's module boundary ---

# what a manifest, checkpoint or ref file name looks like once an
# f-string's fields are blanked to "{}"
_FORMAT_NAME = re.compile(
    r"(^|/)v\{\}\.json|ckpt-v|seq-v|_last_checkpoint|\.json\.expired"
    r"|^v\d+\.json$"
)
_FIELD_SPELLING = {"EXPIRED_SUFFIX": ".json.expired"}


def _template(node: ast.JoinedStr) -> str:
    parts = []
    for v in node.values:
        if isinstance(v, ast.Constant):
            parts.append(str(v.value))
        elif isinstance(v.value, ast.Name):
            parts.append(_FIELD_SPELLING.get(v.value.id, "{}"))
        else:
            parts.append("{}")
    return "".join(parts)


def _format_spellings(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    docstrings = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(
            n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, (ast.Constant, ast.JoinedStr))
    }
    # an f-string's literal parts are judged as part of its template
    skip = docstrings | {
        id(v)
        for n in ast.walk(tree)
        if isinstance(n, ast.JoinedStr)
        for v in n.values
    }
    found = []
    for node in ast.walk(tree):
        if id(node) in skip:
            continue
        if isinstance(node, ast.JoinedStr):
            text = _template(node)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            text = node.value
        elif (
            isinstance(node, ast.Call)
            and ast.unparse(node.func) == "os.path.join"
            and node.args
            and isinstance(node.args[0], ast.Name)
            and node.args[0].id.endswith("refs_dir")
        ):
            found.append((node.lineno, ast.unparse(node)))
            continue
        else:
            continue
        if _FORMAT_NAME.search(text):
            found.append((node.lineno, repr(text)))
    return [f"{path.name}:{ln}: {text}" for ln, text in sorted(found)]


def test_only_table_py_spells_format_file_names():
    """Manifest (`v{N}.json`, `.json.expired`), checkpoint (`ckpt-v`,
    `seq-v`, `_last_checkpoint`) and ref file names are built in
    table.py only; every other module goes through its helpers.
    Docstrings and comments may name them."""
    offenders = [
        hit
        for path in sorted((REPO / "sparkgraft").rglob("*.py"))
        if path.name != "table.py"
        for hit in _format_spellings(path)
    ]
    assert offenders == []


def test_boundary_check_sees_spellings():
    src = (
        'import os\n'
        'def f(log_dir, refs_dir, v, EXPIRED_SUFFIX):\n'
        '    """v1.json and _last_checkpoint in a docstring are fine."""\n'
        '    a = os.path.join(log_dir, f"v{v}.json")\n'
        '    b = f"v{v}{EXPIRED_SUFFIX}"\n'
        '    c = "_last_checkpoint"\n'
        '    d = f"ckpt-v{v}.json"\n'
        '    e = os.path.join(refs_dir, "main")\n'
        '    ok = os.path.join(log_dir, f"v{v:05d}")\n'
    )
    with tempfile.TemporaryDirectory() as d:
        path = Path(d) / "mod.py"
        path.write_text(src)
        hits = _format_spellings(path)
    assert [h.split(":")[1] for h in hits] == ["4", "5", "6", "7", "8"]
