"""sparkgraft — a PySpark-native analytics engine.

Re-expresses the classic Hadoop batch-utility canon (filter/grep, count,
sort, join, distinct, top-k, sampling, sessionization, format conversion,
compaction) as Catalyst-optimized DataFrame programs, plus the
LLM-data-pipeline extensions (dedup, similarity search, multimodal columns,
text analysis). Blueprint: SURVEY.md; driver contract: __spark_entry__.py.

Accessing ``sparkgraft.QUERIES`` / ``sparkgraft.ORACLE`` imports every
operator module, which registers all queries/oracles into
``sparkgraft.registry`` — exactly the eager behavior this package had
through round 13, deferred behind PEP 562 ``__getattr__``.

Why lazy (r14, guide §1.2 step 2 — per-task/per-process work): every
Python worker process Spark spawns around a custom Python data source
(the per-stream ``python_streaming_source_runner``, the
``create_data_source`` / ``plan_data_source_read`` planner workers, and
every executor worker that unpickles a UDF referencing a sparkgraft
module) imports the referenced submodule, and importing any submodule
first runs this package ``__init__``. The eager form pulled in all ~20
operator modules (~0.6 s marginal after pyspark) PER PROCESS; the
protocol keys start 2+ streaming queries each, so the suite paid that
tax dozens of times per run. Driver-side consumers (bench, preflight,
the driver contract) reach QUERIES/ORACLE through this module and still
get the full registry, loaded once in the long-lived driver process.
"""

from __future__ import annotations

import importlib

# every module whose import registers operators into sparkgraft.registry
# (the eager-import list this __init__ carried through round 13)
_OPERATOR_MODULES = (
    "aggregates",  # registers §2.4
    "avroio",  # registers scan_avro_roundtrip
    "filters",  # registers §2.2
    "functions",  # registers §2.8
    "graph",  # registers iterative graph analytics
    "joins",  # registers §2.3
    "multimodal",  # registers §2.11 mm_*
    "scans",  # registers §2.1
    "skew",  # registers §4 salted aggregation
    "sorts",  # registers §2.6–2.7
    "sources",  # registers custom source + observed metrics
    "sqlentry",  # registers SQL entry path
    "streaming",  # registers §2.9
    "textops",  # registers §2.11 text/dedup
    "udfs",  # registers §2.10
    "vectorops",  # registers §2.11 sim_*/mm_*
    "windows",  # registers §2.5
)

__version__ = "0.1.0"


def _load_all_operators() -> None:
    for name in _OPERATOR_MODULES:
        importlib.import_module(f".{name}", __name__)


def __getattr__(name: str):
    if name in ("QUERIES", "ORACLE"):
        _load_all_operators()
        from .registry import ORACLE, QUERIES

        globals()["QUERIES"] = QUERIES
        globals()["ORACLE"] = ORACLE
        return globals()[name]
    if name in ("TABLES", "load", "register_tables"):
        from . import catalog

        globals()["TABLES"] = catalog.TABLES
        globals()["load"] = catalog.load
        globals()["register_tables"] = catalog.register_tables
        return globals()[name]
    if name == "get_session":
        from .session import get_session

        globals()["get_session"] = get_session
        return get_session
    # submodule attribute access (``sparkgraft.scans`` after a bare
    # ``import sparkgraft``, ``from sparkgraft import ranking``, ...)
    # Only a missing SUBMODULE maps to AttributeError; a submodule that
    # exists but fails on a missing dependency surfaces its real error.
    try:
        return importlib.import_module(f".{name}", __name__)
    except ModuleNotFoundError as exc:
        if exc.name != f"{__name__}.{name}":
            raise
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        ) from None


def __dir__():
    return sorted(
        set(globals())
        | set(_OPERATOR_MODULES)
        | {
            "QUERIES",
            "ORACLE",
            "TABLES",
            "load",
            "register_tables",
            "get_session",
        }
    )
