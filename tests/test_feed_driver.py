"""The shared feed driver: the per-key scratch root (`registry.key_root`),
the drain (`streaming._drain_feed`), the one-commit sink
(`streaming._one_commit_sink`), the signed replay
(`streaming._signed_net`), and the exactly-once harness of the stream
maintainers — the batch-keyed state store (`streaming._BatchState`)
and the crash-injection pair (`streaming._crash_once`,
`streaming._expect_injected_crash`). The stream and feed keys prove
their contracts through these helpers, so their failure paths are
pinned here directly, on a two-commit snapshot log of a few orders
rows."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.errors import StreamingQueryException

from conftest import SF_DIR, SF_DIR_MID
from sparkgraft.registry import key_root
from sparkgraft.streaming import (
    _BatchState,
    _crash_once,
    _drain_feed,
    _expect_injected_crash,
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


def _pointer(root: str) -> str:
    with open(os.path.join(root, "CURRENT")) as fh:
        return fh.read().strip()


def test_batch_state_prev_is_none_at_zero_and_refuses_a_gap(spark, tmp_path):
    st = _BatchState(spark, str(tmp_path / "st"))
    assert st.prev(0) is None
    st.publish(spark.createDataFrame([(1,)], "k int"), 0)
    assert [r["k"] for r in st.prev(1).collect()] == [1]
    with pytest.raises(RuntimeError, match="state gap: batch 3 has no v00002"):
        st.prev(3)


def test_batch_state_republish_converges(spark, tmp_path):
    root = str(tmp_path / "st")
    st = _BatchState(spark, root)
    st.publish(spark.createDataFrame([(1, 10), (2, 20)], "k int, n long"), 0)
    seen = []
    for _ in range(2):  # batch 1 delivered, then redelivered
        st.publish(st.prev(1).selectExpr("k", "n + 1 AS n"), 1)
        seen.append(sorted(tuple(r) for r in st.current().collect()))
    assert seen[0] == seen[1] == [(1, 11), (2, 21)]
    assert _pointer(root) == os.path.join(root, "v00001")
    assert st.n_versions() == 2


def test_batch_state_crash_after_fires_once_after_pointer_swap(spark, tmp_path):
    root = str(tmp_path / "st")
    st = _BatchState(spark, root, crash_after=1)
    df = spark.createDataFrame([(1,)], "k int")
    st.publish(df, 0)
    with pytest.raises(RuntimeError, match="^injected crash after MV publish"):
        st.publish(df, 1)
    assert _pointer(root) == os.path.join(root, "v00001")
    st.publish(df, 1)  # the redelivery runs through
    st.publish(df, 2)
    assert _pointer(root) == os.path.join(root, "v00002")


def test_crash_once_fires_only_at_its_batch():
    crash = _crash_once(1)
    crash(0, "x")
    with pytest.raises(RuntimeError, match="^injected crash in the sink$"):
        crash(1, "in the sink")
    crash(1, "x")
    _crash_once(None)(0, "x")


def test_expect_injected_crash_through_a_real_drain(spark, feed_log):
    root, log_dir = feed_log
    crash = _crash_once(1)
    delivered = []

    def sink(batch_df, batch_id):
        delivered.append(batch_id)
        crash(batch_id, "in the sink")

    def run_phase(tag, sink):
        _drain_feed(
            spark, _SOURCE, sink, os.path.join(root, f"ckpt_{tag}"),
            log_dir=log_dir,
        )

    _expect_injected_crash(lambda: run_phase("crash", sink))
    assert delivered == [0, 1]
    assert not spark.streams.active

    def refuse(batch_df, batch_id):
        raise RuntimeError("sink refused the batch")

    with pytest.raises(StreamingQueryException, match="sink refused the batch"):
        _expect_injected_crash(lambda: run_phase("refuse", refuse))

    with pytest.raises(RuntimeError, match="phase 1 did not crash"):
        _expect_injected_crash(lambda: run_phase("clean", lambda df, b: None))
