"""Round-9 operator tests: merge-on-read deletes, streaming CDF,
partition evolution, OPTIMIZE ZORDER, and the oracle-exact LSH rewrites
(SURVEY.md §2.12 r9 amendments).

The four lakehouse keys carry hard in-key protocol asserts (zero
data-file rewrite at delete time, per-batch single-version CDF, strict
pruning on both layout generations, pre/post rectangle fractions), so
every preflight/bench run is already a behavior proof; the tests here
pin the properties the in-key asserts CANNOT see — cross-path
equivalence (COW vs MOR), time-travel row identity, and the stability
of the engine-mirrorable hash primitive the LSH rewrites ride on.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import sparkgraft
from conftest import SF_DIR
from sparkgraft.catalog import load
from sparkgraft.table import (
    commit_snapshot as _commit_snapshot,
    data_files_of as _data_files_of,
    log_versions as _log_versions,
    read_manifest as _read_manifest,
    split_head_files as _split_head_files,
)

SF_DIR_BIG = "/root/testdata/sf0.1"


def test_mor_delete_equals_cow_delete(spark, tmp_path):
    """THE read-equivalence criterion: the same delete applied
    merge-on-read (tombstone + anti-join) and copy-on-write (file
    rewrite) must yield identical surviving row sets."""
    src = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    base = str(tmp_path / "base")
    src.repartition(2).write.parquet(base)
    base_files = _data_files_of(base)
    pred = F.col("o_orderkey") % 7 == 0

    # COW: rewrite the files without the matching rows.
    cow_dir = str(tmp_path / "cow")
    spark.read.parquet(*base_files).filter(~pred).write.parquet(cow_dir)

    # MOR: tombstone keys, anti-join at read time — base files untouched.
    del_dir = str(tmp_path / "deletes")
    spark.read.parquet(*base_files).filter(pred).select(
        "o_orderkey"
    ).coalesce(1).write.parquet(del_dir)
    keys = spark.read.parquet(del_dir)
    mor = spark.read.parquet(*base_files).join(
        F.broadcast(keys), "o_orderkey", "left_anti"
    )

    cow_rows = {
        (r["o_orderkey"], r["o_totalprice"])
        for r in spark.read.parquet(cow_dir).collect()
    }
    mor_rows = {(r["o_orderkey"], r["o_totalprice"]) for r in mor.collect()}
    assert cow_rows == mor_rows
    assert cow_rows  # non-vacuous
    # and the MOR path really deleted something
    assert len(mor_rows) < src.count()


def test_mor_key_time_travel_and_zero_rewrite(spark):
    """Run the registered key, then re-open its log: v2's data class must
    equal v1's file list exactly (add-only delete), and reading v1 must
    resurrect precisely the deleted rows (time travel row identity —
    stronger than the in-key non-empty check)."""
    from sparkgraft.scans import _scratch

    sparkgraft.QUERIES["sink_merge_on_read_delete"](spark, SF_DIR).collect()
    log_dir = os.path.join(_scratch(SF_DIR, "mor_delete_table"), "log")
    v1 = _read_manifest(log_dir, 1)["files"]
    v2 = _read_manifest(log_dir, 2)["files"]
    data2, dels2 = _split_head_files(v2)
    assert sorted(data2) == sorted(v1)
    assert len(dels2) == 1
    n_v1 = spark.read.parquet(*v1).count()
    n_deleted = spark.read.parquet(*dels2).count()
    n_mor = (
        spark.read.parquet(*data2)
        .join(
            F.broadcast(spark.read.parquet(*dels2)), "o_orderkey", "left_anti"
        )
        .count()
    )
    assert n_v1 == n_mor + n_deleted
    assert n_deleted > 0


def test_snapshot_cdf_matches_batch_twin(spark):
    """The streaming CDF's final per-version table must equal the batch
    recomputation from the source — the streaming/batch equivalence
    discipline of test_streaming.py applied to the log tail."""
    got = {
        (r["version"], r["n_rows"], r["cents"])
        for r in sparkgraft.QUERIES["stream_snapshot_cdf"](
            spark, SF_DIR
        ).collect()
    }
    o = load(spark, SF_DIR, "orders")
    want = {
        (r["version"], r["n_rows"], r["cents"])
        for r in o.groupBy(
            (F.col("o_orderkey") % 4 + 1).cast("int").alias("version")
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
        .collect()
    }
    assert got == want
    assert len(got) == 4


def test_partition_evolution_plans_strict_subsets(spark):
    """Re-open the evolved table's log after the key runs: both layout
    generations must still be fully present in the head (nothing
    rewritten), and re-planning the probe window from the manifest
    alone must keep a strict subset in each generation while covering
    every matching row (no over-prune: planned files ⊇ rows the full
    scan finds)."""
    from sparkgraft.scans import _PE_HI, _PE_LO, _scratch

    sparkgraft.QUERIES["sink_partition_evolution"](spark, SF_DIR).collect()
    root = _scratch(SF_DIR, "part_evo_table")
    log_dir = os.path.join(root, "log")
    head = _read_manifest(log_dir, _log_versions(log_dir)[-1])["files"]
    gen1 = [f for f in head if f.startswith(os.path.join(root, "gen1"))]
    gen2 = [f for f in head if f.startswith(os.path.join(root, "gen2"))]
    assert gen1 and gen2
    pred = (
        (F.col("o_orderdate") >= F.lit(_PE_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_PE_HI).cast("timestamp"))
    )
    full = spark.read.parquet(*head).filter(pred).count()
    # planned-by-path (the key's planning rule re-derived): every file
    # NOT planned must contain zero matching rows — over-prune check.
    import re

    year_re = re.compile(rf"o_year=(\d+)\{os.sep}")
    quarter_re = re.compile(rf"o_quarter=(\d+)\{os.sep}")

    def planned(path: str) -> bool:
        y = int(year_re.search(path).group(1))
        qm = quarter_re.search(path)
        if qm is None:
            return 1997 <= y <= 1998
        return (1997, 1) <= (y, int(qm.group(1))) <= (1998, 2)

    sel = [f for f in head if planned(f)]
    assert 0 < len([f for f in sel if f in gen1]) < len(gen1)
    assert 0 < len([f for f in sel if f in gen2]) < len(gen2)
    assert spark.read.parquet(*sel).filter(pred).count() == full


def test_optimize_zorder_improves_clustering(spark):
    """The OPTIMIZE must leave the table BETTER clustered than the
    ingest debris: compare mean per-file custkey range fraction before
    (ingest dirs) and after (head) — the rewrite must at least halve
    it. The in-key asserts pin absolute bounds; this pins the
    improvement direction."""
    from sparkgraft.scans import _scratch

    sparkgraft.QUERIES["sink_optimize_zorder"](spark, SF_DIR).collect()
    root = _scratch(SF_DIR, "optimize_zorder_table")
    log_dir = os.path.join(root, "log")
    before = _read_manifest(log_dir, 4)["files"]
    after = _read_manifest(log_dir, 5)["files"]

    def mean_c_fraction(files):
        o = load(spark, SF_DIR, "orders")
        g = o.agg(F.min("o_custkey"), F.max("o_custkey")).collect()[0]
        span = int(g[1]) - int(g[0]) + 1
        rows = (
            spark.read.parquet(*files)
            .select(F.input_file_name().alias("f"), "o_custkey")
            .groupBy("f")
            .agg(F.min("o_custkey").alias("c0"), F.max("o_custkey").alias("c1"))
            .collect()
        )
        return sum((int(r["c1"]) - int(r["c0"]) + 1) / span for r in rows) / len(
            rows
        )

    assert mean_c_fraction(after) < 0.5 * mean_c_fraction(before)


def test_md5_slice_hash_is_engine_mirrorable(spark):
    """The r9 hash primitive underpinning the minhash/simhash oracle
    rewrites: Spark's conv(substring(md5)) parse and DuckDB's
    ('0x'||...)::BIGINT parse must agree byte-for-byte — ASCII, unicode,
    empty string, and seed-folded inputs."""
    import duckdb

    from sparkgraft.textops.corpus import _MD5_60_DUCK, _MD5_60_SPARK

    samples = ["abc", "", "héllo wörld", "0:the quick brown", "15:x", "a,b"]
    rows = spark.createDataFrame(
        [(s,) for s in samples], "s string"
    ).select("s", F.expr(_MD5_60_SPARK.format(x="s")).alias("h")).collect()
    con = duckdb.connect()
    for r in rows:
        duck = con.execute(
            f"SELECT {_MD5_60_DUCK.format(x='?')}", [r["s"]]
        ).fetchone()[0]
        assert duck == r["h"], r["s"]
        assert 0 <= r["h"] < 1 << 60


def test_lsh_rewrites_still_cover_exact_duplicates(spark):
    """The conversion to oracle-exact hashing must not cost the coverage
    invariant: exact-duplicate docs still collide in every banding
    scheme (identical token/shingle sets → identical signatures under
    ANY hash family)."""
    d = load(spark, SF_DIR_BIG, "documents").select(
        "doc_id", F.lower(F.trim("text")).alias("norm")
    )
    a, b = d.alias("a"), d.alias("b")
    exact = {
        (r["da"], r["db"])
        for r in a.join(
            b,
            (F.col("a.norm") == F.col("b.norm"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .collect()
    }
    assert exact
    for key in ("dedup_near_minhash", "dedup_simhash"):
        cand = {
            (r["doc_a"], r["doc_b"])
            for r in sparkgraft.QUERIES[key](spark, SF_DIR_BIG).collect()
        }
        assert exact <= cand, key


def test_mor_upsert_sequence_scoping(spark):
    """The tombstone must not delete the upsert file's own rows: after
    the key runs, applying the tombstone to ALL data files (ignoring
    sequence numbers — the naive reader) must lose the updated rows,
    while the sequence-scoped read keeps them."""
    from sparkgraft.scans import _scratch

    sparkgraft.QUERIES["sink_merge_on_read_upsert"](spark, SF_DIR).collect()
    log_dir = os.path.join(_scratch(SF_DIR, "mor_upsert_table"), "log")
    head = _read_manifest(log_dir, _log_versions(log_dir)[-1])["files"]
    data, dels = _split_head_files(head)
    keys = spark.read.parquet(*dels)
    naive = (
        spark.read.parquet(*data)
        .join(F.broadcast(keys), "o_orderkey", "left_anti")
        .count()
    )
    base = load(spark, SF_DIR, "orders")
    n_orders = base.count()
    n_matched = base.filter(F.col("o_orderkey") % 5 == 0).count()
    n_inserts = base.filter(F.col("o_orderkey") % 1000 == 7).count()
    # naive read loses the matched keys' updated copies too
    assert naive == n_orders - n_matched + n_inserts
    # the registered (sequence-scoped) read keeps exactly one copy of each
    row = sparkgraft.QUERIES["sink_merge_on_read_upsert"](
        spark, SF_DIR
    ).collect()[0]
    assert row["n_rows"] == n_orders + n_inserts
    assert row["files_rewritten"] == 0


def test_log_checkpoint_reader_skips_prefix(spark):
    """After the key runs, the delta-form log must hold 12 manifests +
    the checkpoint + the pointer, and re-resolving from the checkpoint
    must touch only the post-checkpoint tail."""
    import json

    from sparkgraft.scans import _scratch

    sparkgraft.QUERIES["scan_log_checkpoint"](spark, SF_DIR).collect()
    log_dir = os.path.join(_scratch(SF_DIR, "log_checkpoint_table"), "log")
    assert _log_versions(log_dir) == list(range(1, 13))
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        ckpt_ver = int(fh.read())
    assert ckpt_ver == 10
    with open(os.path.join(log_dir, f"ckpt-v{ckpt_ver}.json")) as fh:
        ckpt = json.load(fh)
    # the checkpoint equals the union of its prefix deltas
    prefix: set[str] = set()
    for v in range(1, ckpt_ver + 1):
        with open(os.path.join(log_dir, f"v{v}.json")) as fh:
            prefix |= set(json.load(fh)["files"])
    assert sorted(prefix) == ckpt["files"]
    # tail deltas are disjoint adds (append-only table)
    tail: set[str] = set()
    for v in range(ckpt_ver + 1, 13):
        with open(os.path.join(log_dir, f"v{v}.json")) as fh:
            adds = set(json.load(fh)["files"])
        assert not adds & prefix and not adds & tail
        tail |= adds


def test_cdf_with_deletes_signed_replay(spark):
    """The full CDF's per-type rows must reconcile: v2's inserts equal
    its deletes minus the predicate hits, and the net row count over the
    whole feed equals the source minus the deleted rows."""
    rows = {
        (r["version"], r["change_type"]): (r["n_rows"], r["cents"])
        for r in sparkgraft.QUERIES["stream_cdf_with_deletes"](
            spark, SF_DIR
        ).collect()
    }
    assert set(rows) == {(1, "insert"), (2, "delete"), (2, "insert")}
    o = load(spark, SF_DIR, "orders")
    n_total = o.count()
    n_even = o.filter(F.col("o_orderkey") % 2 == 0).count()
    n_hit = o.filter(F.col("o_orderkey") % 10 == 4).count()
    assert rows[(1, "insert")][0] == n_total
    assert rows[(2, "delete")][0] == n_even
    assert rows[(2, "insert")][0] == n_even - n_hit
    # r9 ADVICE vacuity guard: %10==4 keys are all even, so the COW
    # rewrite of the even file genuinely drops rows — the delete events
    # must strictly outnumber the rewrite's inserts
    assert n_hit > 0
    assert rows[(2, "delete")][0] > rows[(2, "insert")][0]


def test_partitioned_cdf_matches_simple_protocol(spark):
    """The partitioned reader must produce exactly the batch-twin
    per-version table — distribution changes nothing about content."""
    got = {
        (r["version"], r["n_rows"], r["cents"])
        for r in sparkgraft.QUERIES["stream_snapshot_cdf_partitioned"](
            spark, SF_DIR
        ).collect()
    }
    o = load(spark, SF_DIR, "orders")
    want = {
        (r["version"], r["n_rows"], r["cents"])
        for r in o.groupBy(
            (F.col("o_orderkey") % 3 + 1).cast("int").alias("version")
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
        .collect()
    }
    assert got == want and len(got) == 3


def test_wap_rejected_batch_never_reachable_from_main(spark):
    """Walk the WAP table's refs after the key runs: the rejected
    staging ref must still exist (the snapshot is preserved for
    debugging until vacuum), but no file it added may appear in ANY
    snapshot main ever pointed to (v1 and v3)."""
    from sparkgraft.scans import _scratch

    sparkgraft.QUERIES["sink_write_audit_publish"](spark, SF_DIR).collect()
    root = _scratch(SF_DIR, "wap_table")
    log_dir = os.path.join(root, "log")
    refs_dir = os.path.join(root, "refs")

    def ref(name):
        with open(os.path.join(refs_dir, name)) as fh:
            return int(fh.read())

    assert ref("main") == 3
    assert ref("wap_batch1") == 2  # rejected but preserved
    v1 = set(_read_manifest(log_dir, 1)["files"])
    v2 = set(_read_manifest(log_dir, 2)["files"])
    v3 = set(_read_manifest(log_dir, 3)["files"])
    bad_only = v2 - v1
    assert bad_only  # the staged batch added files
    assert not bad_only & v1 and not bad_only & v3
    # published main = base + exactly the good batch
    assert v1 < v3


def test_drift_report_reconciles_with_source(spark):
    """The drift report's deltas must equal the post-cutoff slice of the
    source, per status — and every n_delta on this append-only history
    must be non-negative."""
    rows = sparkgraft.QUERIES["dq_snapshot_drift"](spark, SF_DIR).collect()
    o = load(spark, SF_DIR, "orders")
    post = {
        r["status"]: (r["n"], r["c"])
        for r in o.filter(
            F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
        )
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"),
        )
        .collect()
    }
    for r in rows:
        assert r["n_delta"] >= 0
        want = post.get(r["status"], (0, 0))
        assert (r["n_delta"], r["cents_delta"]) == want, r["status"]
    assert sum(r["n_delta"] for r in rows) == sum(n for n, _ in post.values())
