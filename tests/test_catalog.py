"""The catalog contract: ``load`` reads each table with its declared schema,
that schema is what the files hold, and no load starts a Spark job.

An inferred ``spark.read.parquet`` runs one footer-inference job per table;
the declared read runs none. ``events.ts`` is the one column whose read
type comes from the file's footer, so its unit branches are pinned on tiny
pyarrow-written files as well.
"""

from __future__ import annotations

import datetime
import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_DIR, SF_DIR_MID
from sparkgraft.catalog import TABLES, _events_read, load, path_for

# The three test-data scale factors; sf0.1 sits next to the two conftest names.
TESTDATA = [SF_DIR, SF_DIR_MID, os.path.join(os.path.dirname(SF_DIR), "sf0.1")]

_group_seq = itertools.count()


def _jobs_started(spark, fn):
    """Run ``fn()`` under a fresh job group; return its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"test-catalog-{next(_group_seq)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def perfbench_dir(tmp_path_factory):
    from perfbench import datagen

    return datagen.ensure_dataset(str(tmp_path_factory.mktemp("perfbench")), 0.001)


def _check_table(spark, sf_dir: str, name: str) -> None:
    inferred, inferred_jobs = _jobs_started(
        spark, lambda: spark.read.parquet(path_for(sf_dir, name)).schema
    )
    # The counter sees the inference job, so the 0 below is a reading.
    assert inferred_jobs >= 1
    # The schema ``load`` hands the parquet reader.
    declared = _events_read(path_for(sf_dir, name))[0] if name == "events" else TABLES[name]
    assert declared == inferred
    df, jobs = _jobs_started(spark, lambda: load(spark, sf_dir, name))
    assert jobs == 0
    assert df.schema == TABLES[name]


@pytest.mark.parametrize("sf_dir", TESTDATA)
@pytest.mark.parametrize("name", sorted(TABLES))
def test_declared_schema_is_the_files_schema(spark, sf_dir, name):
    if not os.path.exists(path_for(sf_dir, name)):
        pytest.skip(f"{sf_dir} not present")
    _check_table(spark, sf_dir, name)


@pytest.mark.parametrize("name", sorted(TABLES))
def test_declared_schema_matches_benchmark_tables(spark, perfbench_dir, name):
    _check_table(spark, perfbench_dir, name)


_BASE = datetime.datetime(2024, 1, 3, 4, 5, 6)
_US = [0, 1_000, 123_000, 86_399_999_000]  # whole ms, so every unit holds them
_EXPECTED = [_BASE + datetime.timedelta(microseconds=us) for us in _US]


def _write_events(path: str, arrow_type) -> None:
    """Write ``events`` with ``ts`` as ``arrow_type``, rows ``_EXPECTED``."""
    n = len(_US)
    table = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(_EXPECTED, pa.timestamp("us")).cast(arrow_type),
        "user_id": pa.array([7] * n, pa.int64()),
        "event_type": ["click"] * n,
        "value": [1.5] * n,
        "props": ['{"k": 1}'] * n,
    })
    # version 2.6 keeps TIMESTAMP(NANOS) instead of coercing it to µs.
    pq.write_table(table, path, version="2.6")


@pytest.mark.parametrize(
    "arrow_type, footer",
    [
        (pa.timestamp("ns"), "isAdjustedToUTC=false, timeUnit=nanoseconds"),
        (pa.timestamp("us"), "isAdjustedToUTC=false, timeUnit=microseconds"),
        (pa.timestamp("ms"), "isAdjustedToUTC=false, timeUnit=milliseconds"),
        (pa.timestamp("us", tz="UTC"), "isAdjustedToUTC=true, timeUnit=microseconds"),
    ],
    ids=["ns", "us", "ms", "us_utc"],
)
def test_events_ts_unit_branches(spark, tmp_path, arrow_type, footer):
    _write_events(path_for(str(tmp_path), "events"), arrow_type)
    ts_column = pq.read_metadata(path_for(str(tmp_path), "events")).schema.column(1)
    assert footer in str(ts_column.logical_type)

    df, jobs = _jobs_started(spark, lambda: load(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert df.schema == TABLES["events"]
    got = df.selectExpr("event_id", "unix_micros(ts) AS us").orderBy("event_id").collect()
    epoch = datetime.datetime(1970, 1, 1)
    assert [r.us for r in got] == [(t - epoch) // datetime.timedelta(microseconds=1) for t in _EXPECTED]


@pytest.mark.parametrize(
    "arrow_type", [pa.timestamp("ns"), pa.timestamp("us", tz="UTC")], ids=["ns", "us_utc"]
)
def test_events_stream_reads_like_load(spark, tmp_path, arrow_type):
    """The file-source stream keys read ``events`` by ``load``'s rule."""
    from sparkgraft.streaming import _events_stream, _run_to_table

    staged = tmp_path / "staged"
    staged.mkdir()
    _write_events(str(staged / "000-events.parquet"), arrow_type)
    _write_events(path_for(str(tmp_path), "events"), arrow_type)

    streamed = _run_to_table(_events_stream(spark, str(staged)), "catalog_events", "append")
    batch = load(spark, str(tmp_path), "events")
    assert streamed.schema == batch.schema == TABLES["events"]
    assert sorted(streamed.collect()) == sorted(batch.collect())
