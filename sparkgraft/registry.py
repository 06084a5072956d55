"""Central query registry.

Every operator module registers its queries here with the ``@query``
decorator; ``__spark_entry__`` simply re-exports the merged dicts, so each
new operator auto-registers with the driver contract (SURVEY.md §7.1).

A registered callable has signature ``(spark, sf_dir) -> DataFrame``.
``oracle`` is the DuckDB-dialect ANSI SQL twin; ``None`` marks a genuinely
non-SQL-expressible op (streaming/state/approximate) that gets the driver's
weaker rows-only check.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``, optionally with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle.strip()
        return fn

    return deco


_SCRATCH = os.path.join(tempfile.gettempdir(), "sparkgraft_sinks")


def _scratch(sf_dir: str, name: str) -> str:
    # Per-process token: every _scratch consumer writes then reads back
    # within one invocation, so pid isolation makes concurrent bench +
    # preflight runs on the same sf_dir race-free (same fix the bucketed
    # join warehouse got).
    tag = sf_dir.strip("/").replace("/", "_")
    return os.path.join(_SCRATCH, f"{tag}_pid{os.getpid()}", name)


def key_root(sf_dir: str, tag: str) -> str:
    """A key's private scratch root, emptied and created anew.

    One directory per (tag, sf dir, process): concurrent bench, preflight
    and test runs on the same sf dir never share or clear each other's
    logs, checkpoints or sink output, and a rerun in the same process
    starts from nothing. Tests rebuild this path to inspect what a key
    left behind, so its layout is part of the key's contract."""
    root = os.path.join(
        tempfile.gettempdir(),
        f"sg-{tag}-{os.path.basename(sf_dir.rstrip('/'))}-pid{os.getpid()}",
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    return root
