"""SparkSession factory for the sparkgraft engine.

One shared, cached session per process (SURVEY.md §6: the ~9 s JVM startup
must be amortized across every query the driver runs). Config targets both
worlds: correctness-critical settings (UTC session timezone so timestamps
hash-match the DuckDB oracle) and the scale posture (AQE on, skew-join
splitting on, Arrow for the pandas-UDF path). On a real cluster the same
builder works — only `master` and memory sizing change.

A process cannot keep a warm JVM, but it can skip re-loading the same
classes on every start: the driver JVM starts from a JDK dynamic
class-data-sharing (AppCDS) archive in the per-user cache (`_cds_launch`).
Likewise every Python worker Spark starts imports pyspark from a compiled
copy of Spark's ``pyspark.zip`` in that cache (`_pyspark_launch`).
"""

from __future__ import annotations

import atexit
import compileall
import hashlib
import os
import re
import shlex
import shutil
import subprocess
import sys
import zipfile

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """A quarter of the host's RAM, never below 2g.

    Local-mode driver heap: the driver JVM IS the executor in local[N],
    and Spark's 1g default starves 32 task threads (MemoryStore cache
    evictions, OOM under cached iterative queries at sf0.1). A quarter
    leaves the rest of the host to the Python workers, the page cache
    and the off-heap shuffle buffers; 2g, the benchmark's heap, holds
    every benchmark key at sf0.01. A fixed 32g heap would exceed the
    RAM of a 15 GB host, and from 32g on the JVM also drops compressed
    oops. Larger scale factors need more: the sf1 rehearsal saw 8g OOM
    a 32-thread 140M-row shuffle. On a cluster executor sizing replaces
    this. Override with $SPARK_GRAFT_DRIVER_MEM.
    """
    with open("/proc/meminfo") as f:
        total_mib = int(f.readline().split()[1]) // 1024  # MemTotal, first line
    return f"{max(2048, total_mib // 4)}m"


_DEFAULTS = {
    # Shuffle sizing: ~cores locally; AQE coalesces down at tiny SFs and
    # splits skewed partitions at huge ones, so this is a ceiling not a law.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / toPandas — the only sanctioned
    # Python-side data path (SURVEY.md §2.10 policy).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # DuckDB oracle timestamps are UTC-naive; pin the session so Spark's
    # session-TZ timestamps render identically.
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}

# Environment variables that put more directories on the driver classpath.
# The JDK refuses to dump an archive with a non-empty directory there.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# The first bytes of a complete JDK 17 dynamic archive: its header, magic
# 0xf00baba8 little-endian, is written last, after every region.
_CDS_MAGIC = bytes.fromhex("a8ab0bf0")
_DUMP_SUFFIX = ".dump"
_DUMP_WAIT_S = 120.0  # a dump at JVM exit took 6-12 s on 4 cores
# Silences the JVM's CDS log lines (a dump warns once per skipped class).
_CDS_QUIET = "-Xlog:cds*=off"
_MAP_OPT = "-XX:SharedArchiveFile="
# Modules under a tests/ directory are extracted but not compiled: no
# worker imports them, and they are two thirds of Spark's pyspark.zip.
_UNCOMPILED = re.compile(r"/tests/")
# Spark's Python worker through a compiled copy of pyspark.zip: the zip's
# entry of PYTHONPATH becomes the copy, every other entry stays in order.
_LAUNCHER = """#!/bin/sh
zip={zip}
tree={tree}
case ":$PYTHONPATH:" in
*:"$zip":*)
  rest=$PYTHONPATH:
  PYTHONPATH=
  while [ -n "$rest" ]; do
    entry=${{rest%%:*}}
    rest=${{rest#*:}}
    [ "$entry" = "$zip" ] && entry=$tree
    PYTHONPATH=$PYTHONPATH$entry:
  done
  PYTHONPATH=${{PYTHONPATH%:}} ;;
esac
exec {python} "$@"
"""


def _cache_dir(name: str) -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "sparkgraft", name)


def _java() -> str | None:
    """The java binary spark-class runs: $JAVA_HOME/bin/java, else PATH's."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _archive_key(java: str, spark_home: str, heap: str) -> str:
    """Name an archive by what makes it valid: the JVM (binary and the
    version its ``release`` file states), the driver classpath (Spark's
    jars by name, size and mtime) and the heap size (from 32g on the JVM
    drops compressed oops and needs the other base archive)."""
    h = hashlib.sha256(f"{java}\0{heap}\0".encode())
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    if os.path.isfile(release):
        with open(release, "rb") as f:
            h.update(f.read())
    with os.scandir(os.path.join(spark_home, "jars")) as it:
        for e in sorted(it, key=lambda e: e.name):
            st = e.stat()
            h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def _is_complete(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(len(_CDS_MAGIC)) == _CDS_MAGIC
    except OSError:
        return False


def _middle(name: str) -> int | None:
    """The number in ``<key>.<n>.<ext>``: a dump's or a ``.tmp`` build's
    pid, an archive's size."""
    parts = name.split(".")
    return int(parts[1]) if len(parts) == 3 and parts[1].isdigit() else None


def _owner_alive(name: str) -> bool:
    pid = _middle(name)
    if not pid:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _cds_launch(heap: str) -> str | None:
    """Prepare the driver JVM's start from a class-data-sharing archive and
    return its Java options; ``None`` leaves the start as Spark makes it.

    Files in the cache directory, ``<key>`` from `_archive_key`:

    - ``<key>.<size>.jsa``, an archive, maps through
      ``-XX:SharedArchiveFile``. Archives only appear by renaming a
      complete dump, so one whose size or header is off is damaged and is
      removed: JDK 17 dies of SIGBUS on a truncated dynamic archive
      instead of starting without it. The JVM checks the rest (its own
      build, the classpath) and starts without a mismatched archive;
      `_drop_if_declined` then removes it.
    - ``<key>.<pid>.dump``: without an archive, ``-XX:ArchiveClassesAtExit``
      makes this JVM's exit dump one there. An exit hook (`_promote_dump`)
      waits for the JVM and renames a complete dump to an archive name,
      so no JVM maps a file while it is written. A dump whose process has
      gone is removed.

    The JDK refuses to dump with a non-empty directory on the classpath,
    and Spark's launcher always puts the conf directory there. So the
    conf directory must hold nothing but ``*.template`` files; then
    ``SPARK_CONF_DIR`` points at an empty directory in the cache, which
    reads the same. With any real file there, or another classpath
    directory, this returns ``None`` and leaves ``os.environ`` as it is.
    """
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        names = os.listdir(conf)
    except OSError:
        names = []
    java = _java()
    if (java is None or any(os.environ.get(v) for v in _CLASSPATH_ENV)
            or not all(n.endswith(".template") for n in names)):
        return None
    cds = _cache_dir("cds")
    empty_conf = os.path.join(cds, "conf")
    archive = None
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        key = _archive_key(java, spark_home, heap)
        for name in os.listdir(cds):
            path = os.path.join(cds, name)
            if name.endswith(_DUMP_SUFFIX) and not _owner_alive(name):
                os.remove(path)
            elif name.startswith(f"{key}.") and name.endswith(".jsa"):
                if _middle(name) == os.path.getsize(path) and _is_complete(path):
                    archive = path
                else:
                    os.remove(path)
    except OSError:
        return None
    os.environ["SPARK_CONF_DIR"] = empty_conf
    if archive:
        return f"{_MAP_OPT}{archive} {_CDS_QUIET}"
    dump = os.path.join(cds, f"{key}.{os.getpid()}{_DUMP_SUFFIX}")
    atexit.register(_promote_dump, dump)
    return f"-XX:ArchiveClassesAtExit={dump} {_CDS_QUIET}"


def _promote_dump(dump: str) -> None:
    """At interpreter exit: end the driver JVM (it exits when its stdin
    closes), wait while it writes ``dump``, and rename a complete dump to
    ``<key>.<size>.jsa``. A JVM that fails leaves no archive; one that
    outlasts the wait leaves its dump to a later start's clean-up.

    A context still running is stopped first: its accumulator server
    would otherwise print an error when the exiting JVM drops its
    connection, which it cannot do once this process has exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        proc.stdin.close()
        if proc.wait(timeout=_DUMP_WAIT_S) == 0 and _is_complete(dump):
            key = dump[: -len(_DUMP_SUFFIX)].rsplit(".", 1)[0]
            os.replace(dump, f"{key}.{os.path.getsize(dump)}.jsa")
        else:
            os.remove(dump)
    except (OSError, Py4JError, subprocess.TimeoutExpired):
        pass


def _drop_if_declined(spark: SparkSession, archive: str) -> None:
    """Remove ``archive`` if the driver JVM started without it.

    A JVM that declines an archive (a build or classpath mismatch that
    `_archive_key` misses) starts without CDS and says nothing, and the
    archive would stay for every later start of the key. A mapped
    archive shows in the JVM's memory map; one missing there is removed,
    so the next start dumps a new one."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/maps") as f:
            mapped = os.path.realpath(archive) in f.read()
        if not mapped:
            os.remove(archive)
    except OSError:
        pass


def _tree_key(zip_path: str) -> str:
    """Name a compiled copy by what makes it valid: the zip (real path,
    size, mtime) and the bytecode format (``cache_tag``)."""
    real = os.path.realpath(zip_path)
    st = os.stat(real)
    key = f"{real}\0{st.st_size}\0{st.st_mtime_ns}\0{sys.implementation.cache_tag}"
    return hashlib.sha256(key.encode()).hexdigest()[:20]


def _remove(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path)
    else:
        os.remove(path)


def _compiled_tree(root: str, zip_path: str) -> str:
    """The compiled copy of ``zip_path`` in ``root``, built if missing.

    It is extracted into ``<key>.<pid>.tmp``, compiled (`py_compile`
    writes ``.pyc`` files even under ``PYTHONDONTWRITEBYTECODE``) and
    renamed to ``<key>``, so no worker sees a half-built tree. A process
    that loses the rename to another discards its own; a ``.tmp`` whose
    process has gone is removed."""
    key = _tree_key(zip_path)
    tree = os.path.join(root, key)
    for name in os.listdir(root):
        if name.endswith(".tmp") and not _owner_alive(name):
            _remove(os.path.join(root, name))
    if os.path.isdir(tree):
        return tree
    tmp = os.path.join(root, f"{key}.{os.getpid()}.tmp")
    with zipfile.ZipFile(zip_path) as z:
        z.extractall(tmp)
    compileall.compile_dir(tmp, ddir=tree, rx=_UNCOMPILED, quiet=2)
    try:
        os.rename(tmp, tree)
    except OSError:
        if not os.path.isdir(tree):
            raise
        _remove(tmp)
    return tree


def _write_launcher(root: str, zip_path: str, tree: str, python: str) -> str:
    """A ``/bin/sh`` launcher in ``root`` that runs ``python`` with ``tree``
    in place of ``zip_path`` on ``PYTHONPATH``; named by its content."""
    body = _LAUNCHER.format(zip=shlex.quote(zip_path), tree=shlex.quote(tree),
                            python=shlex.quote(python))
    path = os.path.join(root, f"python-{hashlib.sha256(body.encode()).hexdigest()[:16]}")
    if not os.path.isfile(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            f.write(body)
        os.chmod(tmp, 0o755)
        os.replace(tmp, path)
    return path


def _pyspark_launch() -> None:
    """Make every Python worker Spark starts import pyspark from a compiled
    copy of ``$SPARK_HOME/python/lib/pyspark.zip``.

    Spark puts that zip on each worker's ``PYTHONPATH``. It holds no
    ``.pyc``, so every interpreter (the task daemon, each planner daemon
    and their forked children) compiles the pyspark modules it imports
    from source. The copy (`_compiled_tree`, in the per-user cache) holds
    the same files byte for byte, compiled once per zip, and
    ``PYSPARK_PYTHON``, which both pyspark and the JVM's planner runners
    read, is set to a launcher that swaps it in (`_write_launcher`) and
    runs the interpreter Spark would have run. A ``PYSPARK_PYTHON`` that
    already is such a launcher (a child of a process that set it) is kept.
    A missing zip, or any ``OSError``, leaves ``os.environ`` as it is.
    """
    zip_path = os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")
    root = _cache_dir("pyspark")
    python = os.environ.get("PYSPARK_PYTHON") or "python3"
    if os.path.dirname(python) == root or not os.path.isfile(zip_path):
        return
    try:
        os.makedirs(root, exist_ok=True)
        launcher = _write_launcher(root, zip_path, _compiled_tree(root, zip_path), python)
    except (OSError, zipfile.BadZipFile):
        return
    os.environ["PYSPARK_PYTHON"] = launcher


def get_session(app_name: str = "sparkgraft", master: str | None = None) -> SparkSession:
    """Return the process-wide SparkSession, creating it on first call.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``),
    matching the driver's bench invocation.
    """
    from pyspark import SparkContext

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()
    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in {"spark.driver.memory": heap, **_DEFAULTS}.items():
        builder = builder.config(key, value)
    java_options = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # this call starts the driver JVM
        _pyspark_launch()
        java_options = _cds_launch(heap)
        if java_options:
            builder = builder.config("spark.driver.extraJavaOptions", java_options)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if java_options and java_options.startswith(_MAP_OPT):
        _drop_if_declined(spark, java_options.split()[0][len(_MAP_OPT):])
    return spark
