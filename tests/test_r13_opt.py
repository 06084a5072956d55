"""Focused tests for the r13 optimization round's shared helpers.

`multisets_equal` (sparkgraft/proofs.py) replaced the double-exceptAll
frame-equality probe inside the index/feed protocol keys; `stage_slices`
(sparkgraft/table.py) replaced N sequential filter+coalesce(1) staging
jobs with one partitioned write. Both must be SEMANTICALLY identical to
what they replaced — these tests pin that, independent of the protocol
keys that use them.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from sparkgraft.proofs import multisets_equal


def test_multisets_equal_matches_exceptall(spark):
    """Equal multisets (with duplicate rows) pass; any duplicity or value
    difference fails — exactly exceptAll-in-both-directions semantics."""
    a = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y"), (3, None)], "k int, v string"
    )
    same = spark.createDataFrame(
        [(2, "y"), (1, "x"), (3, None), (1, "x")], "k int, v string"
    )
    fewer_dups = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None)], "k int, v string"
    )
    diff_value = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "z"), (3, None)], "k int, v string"
    )
    assert multisets_equal(a, same)
    assert not multisets_equal(a, fewer_dups)  # duplicity matters
    assert not multisets_equal(fewer_dups, a)  # ... in both directions
    assert not multisets_equal(a, diff_value)

    # exceptAll agrees on every case above
    def except_all_equal(x, y):
        return (
            x.exceptAll(y).limit(1).count() == 0
            and y.exceptAll(x).limit(1).count() == 0
        )

    assert except_all_equal(a, same)
    assert not except_all_equal(a, fewer_dups)
    assert not except_all_equal(a, diff_value)


def test_multisets_equal_null_and_nan(spark):
    """NULLs group as equal keys and NaN == NaN under the groupBy
    equality — the same normalization exceptAll applies."""
    a = spark.createDataFrame(
        [(None, float("nan")), (1, 0.5)], "k int, v double"
    )
    b = spark.createDataFrame(
        [(1, 0.5), (None, float("nan"))], "k int, v double"
    )
    assert multisets_equal(a, b)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stage_slices_matches_per_slice_filters(spark):
    """Each staged slice dir holds exactly the rows the per-slice filter
    job used to write, with df's columns and ONE data file per slice."""
    from sparkgraft.table import stage_slices

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 100).alias("v")
    )
    out = os.path.join(
        tempfile.gettempdir(), f"sg-test-stageslices-{os.getpid()}"
    )
    slices = stage_slices(df, F.col("k") % 3, out)
    assert sorted(slices) == [0, 1, 2]
    for s, files in slices.items():
        assert len(files) == 1  # one data file per slice
        got = spark.read.parquet(*files)
        assert got.columns == ["k", "v"]  # slice key not stored
        want = df.filter(F.col("k") % 3 == s)
        assert multisets_equal(got, want)
