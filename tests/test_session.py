"""The driver JVM's class-data-sharing start (`session._cds_launch`), the
Python workers' compiled pyspark (`session._pyspark_launch`) and the
default heap.

The unit tests drive the archive decision and the compiled copy against
a temporary cache and a fake Spark home; they start no JVM. The
subprocess tests start fresh sessions against a temporary
``XDG_CACHE_HOME`` and ask the JVM itself, through its class-load log,
where its classes came from, and the Python workers where their pyspark
came from.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from sparkgraft import session

ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture
def launch(tmp_path, monkeypatch):
    """A template-only conf dir, an empty cache and a capturing
    ``atexit.register``; returns ``(run, cds_dir, hooks)``."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# spark.master local\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for name in session._CLASSPATH_ENV:
        monkeypatch.delenv(name, raising=False)
    hooks = []
    monkeypatch.setattr(session.atexit, "register", lambda *a: hooks.append(a))
    return (lambda: session._cds_launch("2g")), tmp_path / "cache" / "sparkgraft" / "cds", hooks


def _key(heap: str = "2g") -> str:
    return session._archive_key(session._java(), session._find_spark_home(), heap)


def test_no_archive_dumps_to_a_temp_path(launch):
    run, cds, hooks = launch
    options = run()
    dump = cds / f"{_key()}.{os.getpid()}.dump"
    assert options == f"-XX:ArchiveClassesAtExit={dump} -Xlog:cds*=off"
    assert os.environ["SPARK_CONF_DIR"] == str(cds / "conf")
    assert os.listdir(cds / "conf") == []
    assert hooks == [(session._promote_dump, str(dump))]


def test_complete_archive_maps(launch):
    run, cds, hooks = launch
    cds.mkdir(parents=True)
    body = session._CDS_MAGIC + b"\0" * 60
    archive = cds / f"{_key()}.{len(body)}.jsa"
    archive.write_bytes(body)
    assert run() == f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off"
    assert os.environ["SPARK_CONF_DIR"] == str(cds / "conf")
    assert hooks == []


@pytest.mark.parametrize("damage", ["truncated", "no_header"])
def test_damaged_archive_is_removed_and_redumped(launch, damage):
    run, cds, hooks = launch
    cds.mkdir(parents=True)
    body = session._CDS_MAGIC + b"\0" * 60
    archive = cds / f"{_key()}.{len(body)}.jsa"
    archive.write_bytes(body[:30] if damage == "truncated" else b"\0" * len(body))
    assert "-XX:ArchiveClassesAtExit=" in run()
    assert not archive.exists()
    assert len(hooks) == 1


def test_dump_of_a_gone_process_is_removed(launch):
    run, cds, _ = launch
    cds.mkdir(parents=True)
    gone = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    stale = cds / f"{_key()}.{int(gone.stdout)}.dump"
    live = cds / f"{_key('4g')}.{os.getppid()}.dump"
    stale.write_bytes(b"\0")
    live.write_bytes(b"\0")
    run()
    assert not stale.exists() and live.exists()


def test_real_conf_file_leaves_the_start_unchanged(launch):
    run, cds, hooks = launch
    (Path(os.environ["SPARK_CONF_DIR"]) / "spark-defaults.conf").write_text("spark.foo bar\n")
    before = dict(os.environ)
    assert run() is None
    assert dict(os.environ) == before
    assert hooks == [] and not cds.exists()


def test_extra_classpath_dir_leaves_the_start_unchanged(launch, monkeypatch):
    run, _, hooks = launch
    monkeypatch.setenv("HADOOP_CONF_DIR", "/etc/hadoop")
    before = dict(os.environ)
    assert run() is None
    assert dict(os.environ) == before and hooks == []


def test_key_differs_across_heaps_and_jar_sets(tmp_path):
    java = session._java()
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"a")
    home = str(tmp_path)
    base = session._archive_key(java, home, "2g")
    assert session._archive_key(java, home, "2g") == base
    assert session._archive_key(java, home, "32g") != base
    (jars / "b.jar").write_bytes(b"b")
    added = session._archive_key(java, home, "2g")
    assert added != base
    os.utime(jars / "b.jar", ns=(1, 1))
    assert session._archive_key(java, home, "2g") != added


def test_default_heap_is_a_quarter_of_ram_at_least_2g():
    with open("/proc/meminfo") as f:
        total_mib = int(f.readline().split()[1]) // 1024
    heap = session._default_driver_memory()
    assert heap == f"{max(2048, total_mib // 4)}m"
    assert int(heap[:-1]) >= 2048


# One fresh session per process: start, one query through a Python worker
# (which opens the accumulator connection), exit without stopping.
_SESSION = ("import sparkgraft; s = sparkgraft.get_session('cds-test'); "
            "print(s.range(1000).rdd.map(lambda r: r[0]).sum())")


def _fresh_session(cache: Path, extra_opts: str = "", heap: str = "1g",
                   script: str = _SESSION) -> subprocess.CompletedProcess:
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM=heap,
               SPARK_GRAFT_CPUS="2", PYTHONPATH=str(ROOT))
    env.pop("SPARK_CONF_DIR", None)  # the test session's own JVM may have set it
    env["SPARK_SUBMIT_OPTS"] = f"{env.get('SPARK_SUBMIT_OPTS', '')} {extra_opts}".strip()
    return subprocess.run([sys.executable, "-c", script], env=env, cwd=str(cache.parent),
                          capture_output=True, text=True, timeout=300)


def _archives(cache: Path) -> list[Path]:
    return sorted((cache / "sparkgraft" / "cds").glob("*.jsa"))


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A cache in which one fresh session has dumped its archive."""
    cache = tmp_path_factory.mktemp("cds") / "cache"
    first = _fresh_session(cache)
    assert first.returncode == 0, first.stderr[-2000:]
    assert first.stdout == "499500\n"  # the dump's CDS log lines are silenced
    assert "[cds" not in first.stderr and "Exception" not in first.stderr
    return cache


def test_second_session_maps_the_archive(dumped, tmp_path):
    [archive] = _archives(dumped)
    assert archive.stat().st_size == session._middle(archive.name)
    log = tmp_path / "class-load.log"
    second = _fresh_session(dumped, f"-Xlog:class+load=info:file={log}")
    assert second.returncode == 0, second.stderr[-2000:]
    assert second.stdout == "499500\n"
    # "(top)" is the dynamic archive stacked on the JDK's base archive.
    loaded = [ln for ln in log.read_text().splitlines()
              if " org.apache.spark.SparkContext " in ln]
    assert loaded and loaded[0].endswith("source: shared objects file (top)")
    assert _archives(dumped) == [archive]


def test_truncated_archive_still_starts(dumped, tmp_path):
    [archive] = _archives(dumped)
    # Replace, never truncate in place: a lingering JVM may still map it.
    part = archive.with_suffix(".part")
    with open(archive, "rb") as src, open(part, "wb") as dst:
        dst.write(src.read(archive.stat().st_size // 2))
    os.replace(part, archive)
    third = _fresh_session(dumped)
    assert third.returncode == 0, third.stderr[-2000:]
    assert third.stdout == "499500\n"
    assert not list(dumped.parent.glob("hs_err_pid*.log"))
    # The damaged archive is gone and this session's exit dumped a new one.
    [fresh] = _archives(dumped)
    assert fresh.stat().st_size == session._middle(fresh.name)


def test_declined_archive_is_removed(dumped, tmp_path):
    # The 1g archive planted under the 40g key: from 32g on the JVM runs
    # without compressed oops, so it declines the archive and starts plain.
    [archive] = _archives(dumped)
    cds = tmp_path / "cache" / "sparkgraft" / "cds"
    cds.mkdir(parents=True)
    planted = cds / f"{_key('40g')}.{archive.stat().st_size}.jsa"
    planted.write_bytes(archive.read_bytes())
    run = _fresh_session(tmp_path / "cache", heap="40g")
    assert run.returncode == 0, run.stderr[-2000:]
    assert run.stdout == "499500\n"
    assert not planted.exists()
    assert not list(tmp_path.glob("hs_err_pid*.log"))


# -- the Python workers' compiled pyspark ------------------------------------

# A stand-in interpreter: prints the PYTHONPATH it was started with, then its
# arguments, one a line.
_ECHO = "#!/bin/sh\nprintf '%s\\n' \"$PYTHONPATH\" \"$@\"\n"
_ZIP_FILES = {
    "pyspark/__init__.py": b"VERSION = 'x'\n",
    "pyspark/sql/worker/plan.py": b"def plan():\n    return 1\n",
    "pyspark/python/pyspark/shell.py": b"",
    "pyspark/tests/test_a.py": b"def test_a():\n    pass\n",
    "pyspark/sql/tests/test_b.py": b"def test_b():\n    pass\n",
    "pyspark/py.typed": b"",
}


@pytest.fixture
def pyzip(tmp_path, monkeypatch):
    """A fake Spark home whose pyspark.zip holds ``_ZIP_FILES``, an empty
    cache and a stand-in ``PYSPARK_PYTHON``; returns ``(zip, root, bin)``."""
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    lib.mkdir(parents=True)
    zip_path = lib / "pyspark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for name, data in _ZIP_FILES.items():
            z.writestr(name, data)
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    for name in ("echo-python", "python3"):
        (bin_dir / name).write_text(_ECHO)
        (bin_dir / name).chmod(0o755)
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("PYSPARK_PYTHON", str(bin_dir / "echo-python"))
    return zip_path, tmp_path / "cache" / "sparkgraft" / "pyspark", bin_dir


def _launch(path_var: str, bin_dir: Path) -> list[str]:
    env = dict(os.environ, PYTHONPATH=path_var, PATH=f"{bin_dir}:{os.environ['PATH']}")
    out = subprocess.run([os.environ["PYSPARK_PYTHON"], "-m", "pyspark.daemon"],
                         env=env, capture_output=True, text=True, check=True)
    return out.stdout.splitlines()


@pytest.mark.parametrize("previous", ["echo-python", None])
def test_launcher_swaps_exactly_the_zip_entry(pyzip, monkeypatch, previous):
    zip_path, root, bin_dir = pyzip
    if previous is None:  # Spark's default interpreter, found on PATH
        monkeypatch.delenv("PYSPARK_PYTHON")
    session._pyspark_launch()
    tree = root / session._tree_key(str(zip_path))
    launcher = Path(os.environ["PYSPARK_PYTHON"])
    assert launcher.parent == root
    python = bin_dir / previous if previous else "python3"
    assert launcher.read_text().endswith(f'exec {python} "$@"\n')
    assert _launch(f"/a::{zip_path}:/b/c.zip:", bin_dir) == [
        f"/a::{tree}:/b/c.zip:", "-m", "pyspark.daemon"]
    # an entry that only contains the zip's path is not the zip's entry
    assert _launch(f"/a:{zip_path}.x:/{zip_path}", bin_dir)[0] == f"/a:{zip_path}.x:/{zip_path}"
    assert _launch("/a", bin_dir)[0] == "/a"


def test_tree_holds_the_zip_compiled(pyzip, monkeypatch):
    zip_path, root, _ = pyzip
    monkeypatch.setattr(sys, "dont_write_bytecode", True)  # PYTHONDONTWRITEBYTECODE=1
    session._pyspark_launch()
    tree = root / session._tree_key(str(zip_path))
    files = {str(p.relative_to(tree)) for p in tree.rglob("*")
             if p.is_file() and "__pycache__" not in p.parts}
    assert files == set(_ZIP_FILES)
    for name, data in _ZIP_FILES.items():
        assert (tree / name).read_bytes() == data
        if name.endswith(".py") and "tests" not in Path(name).parts:
            assert Path(importlib.util.cache_from_source(str(tree / name))).is_file(), name


def test_missing_zip_leaves_the_environment(pyzip):
    zip_path, root, _ = pyzip
    zip_path.unlink()
    before = dict(os.environ)
    session._pyspark_launch()
    assert dict(os.environ) == before and not root.exists()


def test_unwritable_cache_leaves_the_environment(pyzip):
    _, root, _ = pyzip
    root.parent.parent.mkdir(parents=True)
    root.parent.write_text("")  # sparkgraft/ is a file: makedirs raises
    before = dict(os.environ)
    session._pyspark_launch()
    assert dict(os.environ) == before


def test_tmp_tree_of_a_gone_process_is_removed(pyzip):
    zip_path, root, _ = pyzip
    gone = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    key = session._tree_key(str(zip_path))
    stale = root / f"{key}.{int(gone.stdout)}.tmp"
    live = root / f"{key}.{os.getppid()}.tmp"
    for tmp in (stale, live):
        (tmp / "pyspark").mkdir(parents=True)
    session._pyspark_launch()
    assert not stale.exists() and live.is_dir()
    assert (root / key / "pyspark" / "__init__.py").is_file()


def test_existing_launcher_is_not_wrapped_again(pyzip):
    _, root, _ = pyzip
    session._pyspark_launch()
    launcher = os.environ["PYSPARK_PYTHON"]
    session._pyspark_launch()
    assert os.environ["PYSPARK_PYTHON"] == launcher
    assert [p.name for p in root.glob("python-*")] == [Path(launcher).name]


# Where pyspark comes from in a planner daemon (the source's partitions()),
# in the task worker that runs its read(), and in a mapInPandas worker.
_ORIGINS = """
import json
import pandas as pd
import sparkgraft
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

def origin():
    import pyspark
    return pyspark.__file__

class Reader(DataSourceReader):
    def partitions(self):
        return [InputPartition(origin())]

    def read(self, partition):
        yield (partition.value, origin())

class Origin(DataSource):
    @classmethod
    def name(cls):
        return "origin"

    def schema(self):
        return "planner string, task string"

    def reader(self, schema):
        return Reader()

def tasks(batches):
    for _ in batches:
        yield pd.DataFrame({"task": [origin()]})

s = sparkgraft.get_session("pyspark-tree-test")
s.dataSource.register(Origin)
row = s.read.format("origin").load().first()
mapped = s.range(1).mapInPandas(tasks, "task string").first()
print(json.dumps([row.planner, row.task, mapped.task]))
"""


def test_workers_import_pyspark_from_the_tree(dumped):
    run = _fresh_session(dumped, script=_ORIGINS)
    assert run.returncode == 0, run.stderr[-2000:]
    zip_path = os.path.join(session._find_spark_home(), "python", "lib", "pyspark.zip")
    tree = dumped / "sparkgraft" / "pyspark" / session._tree_key(zip_path)
    planner, task, mapped = json.loads(run.stdout.splitlines()[-1])
    for origin in (planner, task, mapped):
        assert origin == str(tree / "pyspark" / "__init__.py")
