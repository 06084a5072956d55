"""The shared feed driver: the per-key scratch root (`registry.key_root`),
the drain (`streaming._drain_feed`), the one-commit sink
(`streaming._one_commit_sink`) and the signed replay
(`streaming._signed_net`). The stream and feed keys prove their
contracts through these helpers, so their failure paths are pinned
here directly, on a two-commit snapshot log of a few orders rows."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.errors import StreamingQueryException

from conftest import SF_DIR, SF_DIR_MID
from sparkgraft.registry import key_root
from sparkgraft.streaming import (
    _drain_feed,
    _one_commit_sink,
    _signed_net,
    _snapshot_cdf_partitioned_datasource,
)
from sparkgraft.table import commit_snapshot, data_files_of, empty_log

_SOURCE = "sparkgraft_snapshot_cdf_partitioned"


@pytest.fixture
def feed_log(spark):
    """A snapshot log whose v1 adds two files and v2 adds one more."""
    root = key_root(SF_DIR, "test-feed-driver")
    log_dir = os.path.join(root, "log")
    empty_log(log_dir)
    files: list[str] = []
    for i, keys in enumerate(([1, 2], [3], [4, 5])):
        d = os.path.join(root, f"data{i}")
        spark.createDataFrame(
            [(k, k * 1.25) for k in keys], "o_orderkey long, o_totalprice double"
        ).coalesce(1).write.parquet(d)
        files += data_files_of(d)
        if i:  # v1 = data0 + data1, v2 = + data2
            commit_snapshot(log_dir, list(files))
    spark.dataSource.register(_snapshot_cdf_partitioned_datasource())
    return root, log_dir


def test_drain_feed_surfaces_sink_error(spark, feed_log):
    root, log_dir = feed_log

    def sink(batch_df, batch_id):
        raise RuntimeError(f"sink refused batch {batch_id}")

    with pytest.raises(StreamingQueryException, match="sink refused batch 0"):
        _drain_feed(
            spark, _SOURCE, sink, os.path.join(root, "ckpt"), log_dir=log_dir
        )
    assert not spark.streams.active  # the query was stopped


def test_drain_feed_delivers_one_batch_per_commit(spark, feed_log):
    root, log_dir = feed_log
    out = os.path.join(root, "out")
    _drain_feed(
        spark, _SOURCE, _one_commit_sink(out, {1: 2, 2: 1}),
        os.path.join(root, "ckpt"), log_dir=log_dir,
    )
    assert sorted(os.listdir(out)) == ["b00000", "b00001"]
    got = spark.read.parquet(os.path.join(out, "b00001")).collect()
    assert {(r["version"], r["o_orderkey"]) for r in got} == {(2, 4), (2, 5)}
    assert not spark.streams.active


def test_one_commit_sink_rejects_two_versions(spark, tmp_path):
    sink = _one_commit_sink(str(tmp_path), {1: 1, 2: 1})
    batch = spark.createDataFrame(
        [(1, 10, 100), (2, 11, 110)], "version int, o_orderkey long, cents long"
    ).coalesce(1)
    with pytest.raises(RuntimeError, match=r"spans versions \[1, 2\]"):
        sink(batch, 0)


def test_one_commit_sink_rejects_unplanned_partitions(spark, tmp_path):
    sink = _one_commit_sink(str(tmp_path), {1: 3})
    batch = spark.createDataFrame(
        [(1, 10, 100), (1, 11, 110)], "version int, o_orderkey long, cents long"
    ).repartition(2)
    with pytest.raises(RuntimeError, match="ran 2 partitions, planned 3"):
        sink(batch, 7)


def test_signed_net_replays_deletes_negatively(spark):
    feed = spark.createDataFrame(
        [("insert", 100), ("insert", 50), ("delete", 100), ("update", 7)],
        "change_type string, cents long",
    )
    assert _signed_net(feed) == (2, 57)


@pytest.mark.parametrize(
    "sf_dir, tag",
    [(SF_DIR_MID, "restart"), (SF_DIR, "e1sink"), (SF_DIR, "cdfcompact")],
)
def test_key_root_path_is_the_one_tests_rebuild(sf_dir, tag):
    want = os.path.join(
        tempfile.gettempdir(),
        f"sg-{tag}-{os.path.basename(sf_dir.rstrip('/'))}-pid{os.getpid()}",
    )
    assert key_root(sf_dir, tag) == want
    assert key_root(sf_dir + "/", tag) == want


def test_key_root_clears_leftovers():
    root = key_root(SF_DIR, "test-key-root")
    with open(os.path.join(root, "leftover"), "w") as fh:
        fh.write("x")
    os.makedirs(os.path.join(root, "sub", "dir"))
    assert key_root(SF_DIR, "test-key-root") == root
    assert os.listdir(root) == []
