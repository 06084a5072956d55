"""Round-11 composition-seam keys: the compaction-aware change feed and
MOR rewrite-data-files maintenance compaction (SURVEY.md §2.12 r11
amendments).

The oracle preflight proves value parity; these tests pin the protocol
invariants the hash can't see — the rewrite commit really streams zero
events, the label-confused churn reader really diverges, the rewrite
really retires both delete encodings and the read-side anti-join debt.
Both keys carry those asserts IN-KEY (they raise before returning), so
the tests drive the keys end-to-end at sf0.001 and then re-check the
observable artifacts the asserts leave behind.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

import sparkgraft
from conftest import SF_DIR


def test_cdf_compaction_aware_end_to_end(spark):
    """Driving the key exercises every in-key assert: the v3 rewrite
    micro-batch lands zero rows, the signed replay equals the head
    digest, and the label-confused churn reader diverges by exactly
    the v2 masked digest."""
    out = sparkgraft.QUERIES["stream_cdf_compaction_aware"](spark, SF_DIR)
    rows = {(r.version, r.change_type): (r.n_rows, r.cents) for r in out.collect()}
    # the rewrite version (3) must be absent from the feed entirely
    assert not any(v == 3 for v, _ in rows)
    # the upsert streams as a delete+insert pair with the bump applied
    d_n, d_c = rows[(4, "delete")]
    i_n, i_c = rows[(4, "insert")]
    assert d_n == i_n
    assert i_c - d_c == d_n * 17  # _CACDF_BUMP per re-priced row


def test_cdf_compaction_aware_manifest_op_stamp(spark):
    """The feed keys on the manifest's op field; the key's history must
    leave exactly one rewrite-stamped commit (v3) in its log."""
    sparkgraft.QUERIES["stream_cdf_compaction_aware"](spark, SF_DIR)
    root = os.path.join(
        tempfile.gettempdir(),
        f"sg-cdfcompact-{os.path.basename(SF_DIR.rstrip('/'))}"
        f"-pid{os.getpid()}",
    )
    log_dir = os.path.join(root, "log")
    ops = {}
    for f in sorted(os.listdir(log_dir)):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(log_dir, f)) as fh:
                ops[int(f[1:-5])] = json.load(fh).get("op")
    assert ops[3] == "rewrite"
    assert [v for v, op in ops.items() if op == "rewrite"] == [3]


def test_rewrite_data_files_retires_both_delete_encodings(spark):
    """After the key runs, its log must show: 4 linear commits, a head
    with zero delete-class files and exactly 2 data files, and both
    delete structures live at v3 (equality + positional)."""
    from sparkgraft.table import (
        log_versions as _log_versions,
        read_manifest as _read_manifest,
        split_head_files as _split_head_files,
    )
    from sparkgraft.scans import _scratch

    sparkgraft.QUERIES["sink_rewrite_data_files"](spark, SF_DIR)
    log_dir = os.path.join(_scratch(SF_DIR, "rdf_table"), "log")
    assert _log_versions(log_dir) == [1, 2, 3, 4]
    v3_data, v3_dels = _split_head_files(_read_manifest(log_dir, 3)["files"])
    assert len(v3_data) == 4 and len(v3_dels) == 2
    head = _read_manifest(log_dir, 4)
    assert head.get("op") == "rewrite"
    h_data, h_dels = _split_head_files(head["files"])
    assert len(h_data) == 2 and h_dels == []
    # compaction never deletes bytes: every retired file still on disk
    assert all(os.path.exists(f) for f in _read_manifest(log_dir, 3)["files"])


def test_rewrite_data_files_digest_matches_predicates(spark):
    """The compacted head must equal the doubly-filtered base: neither
    delete encoding leaked a row through, in either direction."""
    from sparkgraft.catalog import load
    from sparkgraft.table import (
        read_manifest as _read_manifest,
        split_head_files as _split_head_files,
    )
    from sparkgraft.scans import _scratch

    sparkgraft.QUERIES["sink_rewrite_data_files"](spark, SF_DIR)
    log_dir = os.path.join(_scratch(SF_DIR, "rdf_table"), "log")
    h_data, _ = _split_head_files(_read_manifest(log_dir, 4)["files"])
    got = (
        spark.read.parquet(*h_data)
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("ks"),
            F.sum("cents").alias("cs"),
        )
        .collect()[0]
    )
    want = (
        load(spark, SF_DIR, "orders")
        .filter(~(F.col("o_orderkey") % 10).isin(2, 5))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("ks"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cs"
            ),
        )
        .collect()[0]
    )
    assert (got.n, got.ks, got.cs) == (want.n, want.ks, want.cs)


def test_ivf_index_append_recall_vs_rebuild(spark):
    """The incrementally-maintained index (frozen base-trained
    centroids, merged code table) must hold recall@5 vs the exact kNN
    — and stay within 0.05 of the full rebuild's recall."""
    from conftest import SF_DIR_MID
    from sparkgraft.catalog import load
    from sparkgraft.vectorops import (
        _IVF_APPEND_DEN,
        _IVF_APPEND_NUM,
        _KNN_K,
        _ivfq_candidates,
        _topk_per_query,
    )

    exact = {
        (r.qid, r.vec_id)
        for r in sparkgraft.QUERIES["sim_knn_per_query"](
            spark, SF_DIR_MID
        ).collect()
    }
    max_id = (
        load(spark, SF_DIR_MID, "embeddings")
        .agg(F.max("vec_id"))
        .collect()[0][0]
    )
    cut = (int(max_id) + 1) * _IVF_APPEND_NUM // _IVF_APPEND_DEN
    inc = {
        (r.qid, r.vec_id)
        for r in _topk_per_query(
            _ivfq_candidates(spark, SF_DIR_MID, base_max=cut).drop("prnk"),
            _KNN_K,
        ).collect()
    }
    full = {
        (r.qid, r.vec_id)
        for r in sparkgraft.QUERIES["sim_ivf_knn"](
            spark, SF_DIR_MID
        ).collect()
    }
    r_inc = len(exact & inc) / len(exact)
    r_full = len(exact & full) / len(exact)
    assert r_inc >= 0.85
    assert r_inc >= r_full - 0.05


def test_ivf_index_append_occupancy_conserved(spark):
    """Every corpus vector lands in exactly one cell of the merged code
    table: n_base + n_delta over all cells equals the corpus size, and
    the base/delta split matches the cut arithmetic."""
    from conftest import SF_DIR_MID
    from sparkgraft.catalog import load
    from sparkgraft.vectorops import _IVF_APPEND_DEN, _IVF_APPEND_NUM

    out = sparkgraft.QUERIES["sim_ivf_index_append"](spark, SF_DIR_MID)
    tot = out.agg(
        F.sum("n_base").alias("nb"), F.sum("n_delta").alias("nd")
    ).collect()[0]
    e = load(spark, SF_DIR_MID, "embeddings")
    n = e.count()
    max_id = e.agg(F.max("vec_id")).collect()[0][0]
    cut = (int(max_id) + 1) * _IVF_APPEND_NUM // _IVF_APPEND_DEN
    n_base = e.filter(F.col("vec_id") < cut).count()
    assert (tot.nb, tot.nd) == (n_base, n - n_base)
    # drift is one global value, replicated; retrain consistent with it
    row = out.limit(1).collect()[0]
    assert row.retrain == (row.drift_ppm > 150_000)


def test_multi_table_publish_crash_protocol(spark):
    """The key's in-key asserts ARE the crash proof (it raises if the
    crashed staging leaks or a reader sees a torn star); this re-checks
    the on-disk txn log afterwards: exactly two txn manifests, the head
    binding both tables, and the crashed-then-restaged fact2 files all
    referenced by txn2 and none by txn1."""
    from sparkgraft.table import (
        data_files_of as _data_files_of,
        log_versions as _log_versions,
        read_manifest as _read_manifest,
    )
    from sparkgraft.scans import _scratch

    sparkgraft.QUERIES["sink_multi_table_publish"](spark, SF_DIR)
    root = _scratch(SF_DIR, "mtp_txn")
    txn_dir = os.path.join(root, "txnlog")
    assert _log_versions(txn_dir) == [1, 2]
    t1 = _read_manifest(txn_dir, 1)["tables"]
    t2 = _read_manifest(txn_dir, 2)["tables"]
    assert set(t1) == set(t2) == {"fact", "dim"}
    fact2_files = set(_data_files_of(os.path.join(root, "fact2")))
    assert fact2_files <= set(t2["fact"])
    assert not (fact2_files & set(t1["fact"]))
    # txn2 strictly grows both tables (the append transaction)
    assert set(t1["fact"]) < set(t2["fact"])
    assert set(t1["dim"]) < set(t2["dim"])


def test_cdf_positional_prior_scoping(spark):
    """v3's DV covers both predicates including every position v2
    already masked; the feed must emit at v3 ONLY the newly masked
    rows, and each delete version must match its predicate count."""
    from sparkgraft.catalog import load

    out = sparkgraft.QUERIES["stream_cdf_positional"](spark, SF_DIR)
    rows = {
        (r.version, r.change_type): r.n_rows for r in out.collect()
    }
    o = load(spark, SF_DIR, "orders")
    n_p1 = o.filter(F.col("o_orderkey") % 10 == 1).count()
    n_p2 = o.filter(F.col("o_orderkey") % 10 == 8).count()
    assert rows[(2, "delete")] == n_p1
    assert rows[(3, "delete")] == n_p2  # NOT n_p1 + n_p2: prior-scoped


def test_rewrite_delete_race_log_shape(spark):
    """After the key runs: 4 linear commits, the two tombstone commits
    stamped mor-delete, the final commit a rewrite with a delete-free
    head — and the stale staged files still on disk as orphans."""
    from sparkgraft.table import (
        data_files_of as _data_files_of,
        log_versions as _log_versions,
        read_manifest as _read_manifest,
        split_head_files as _split_head_files,
    )
    from sparkgraft.scans import _scratch

    sparkgraft.QUERIES["sink_rewrite_delete_race"](spark, SF_DIR)
    root = _scratch(SF_DIR, "rdr_table")
    log_dir = os.path.join(root, "log")
    assert _log_versions(log_dir) == [1, 2, 3, 4]
    assert _read_manifest(log_dir, 2).get("op") == "mor-delete"
    assert _read_manifest(log_dir, 3).get("op") == "mor-delete"
    assert _read_manifest(log_dir, 4).get("op") == "rewrite"
    _, dels = _split_head_files(_read_manifest(log_dir, 4)["files"])
    assert dels == []
    # the refused rewrite's staging is an orphan, never referenced
    stale = set(_data_files_of(os.path.join(root, "stale_rewrite")))
    assert stale
    for v in (1, 2, 3, 4):
        assert not (stale & set(_read_manifest(log_dir, v)["files"]))


def test_dedup_near_incremental_completeness(spark):
    """The incremental probe must find EXACTLY the pairs the full
    self-join finds, restricted to delta-involved pairs — no false
    negatives from skipping base×base, no extras."""
    from sparkgraft.catalog import load
    from sparkgraft.textops.corpus import _NMI_DEN, _NMI_NUM

    docs = load(spark, SF_DIR, "documents")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    cut = (int(max_id) + 1) * _NMI_NUM // _NMI_DEN
    full = {
        (r.doc_a, r.doc_b)
        for r in sparkgraft.QUERIES["dedup_near_minhash"](
            spark, SF_DIR
        ).collect()
    }
    want = {(a, b) for a, b in full if a >= cut or b >= cut}
    got = {
        (r.doc_a, r.doc_b)
        for r in sparkgraft.QUERIES["dedup_near_incremental"](
            spark, SF_DIR
        ).collect()
    }
    assert got == want
    assert want, "delta-involved pair set must be non-empty at sf0.001"


def test_cdf_mixed_deletes_splits_encodings(spark):
    """One commit carrying both delete encodings must stream each
    masked row exactly once: the v2 delete count equals the union of
    the two disjoint predicates, and versions 1/3 are pure inserts."""
    from sparkgraft.catalog import load

    out = sparkgraft.QUERIES["stream_cdf_mixed_deletes"](spark, SF_DIR)
    rows = {
        (r.version, r.change_type): r.n_rows for r in out.collect()
    }
    o = load(spark, SF_DIR, "orders")
    n_eq = o.filter(F.col("o_orderkey") % 10 == 2).count()
    n_pos = o.filter(F.col("o_orderkey") % 10 == 9).count()
    assert rows[(2, "delete")] == n_eq + n_pos
    assert (1, "delete") not in rows and (3, "delete") not in rows


def test_multi_table_conflict_log_merge(spark):
    """After the key runs: three txn manifests; v2 overlays only the
    fact (dim unchanged from v1), v3 overlays only the dim (fact
    carried from v2) — the rebase semantics, checked on disk."""
    from sparkgraft.table import (
        log_versions as _log_versions,
        read_manifest as _read_manifest,
    )
    from sparkgraft.scans import _scratch

    sparkgraft.QUERIES["sink_multi_table_conflict"](spark, SF_DIR)
    txn_dir = os.path.join(_scratch(SF_DIR, "mtc_txn"), "txnlog")
    assert _log_versions(txn_dir) == [1, 2, 3]
    t1 = _read_manifest(txn_dir, 1)["tables"]
    t2 = _read_manifest(txn_dir, 2)["tables"]
    t3 = _read_manifest(txn_dir, 3)["tables"]
    assert t2["dim"] == t1["dim"] and set(t1["fact"]) < set(t2["fact"])
    assert t3["fact"] == t2["fact"] and set(t2["dim"]) < set(t3["dim"])


def test_multi_table_vacuum_classes(spark):
    """After the key runs: the crashed staging and txn1's replaced dim
    files are gone from disk; every retained-txn file survives; the
    txn log itself is untouched (3 manifests)."""
    from sparkgraft.table import (
        log_versions as _log_versions,
        read_manifest as _read_manifest,
    )
    from sparkgraft.scans import _scratch

    sparkgraft.QUERIES["sink_multi_table_vacuum"](spark, SF_DIR)
    root = _scratch(SF_DIR, "mtv_txn")
    txn_dir = os.path.join(root, "txnlog")
    assert _log_versions(txn_dir) == [1, 2, 3]
    # collected: everything under the crashed staging dir
    crash_dir = os.path.join(root, "staging", "fact2_crash")
    left = [f for f in os.listdir(crash_dir) if f.endswith(".parquet")]
    assert left == []
    # collected: txn1's dim files (replaced at txn2, expired by retention)
    for f in _read_manifest(txn_dir, 1)["tables"]["dim"]:
        assert not os.path.exists(f)
    # survivors: every file of the retained window intact
    for v in (2, 3):
        for fl in _read_manifest(txn_dir, v)["tables"].values():
            assert all(os.path.exists(f) for f in fl)


def test_commit_rewrite_validation_and_rebase(spark, tmp_path):
    """Protocol-level coverage of the review-fixed `_commit_rewrite`:
    a tombstone commit between plan and commit raises CommitConflict;
    a plain append between plan and commit rebases and commits; and a
    raw manifest written by a racer (no helper involved) is still seen
    by the validation walk. The true mid-flight interleaving (tombstone
    landing between a lost CAS and the retried publish) needs threads;
    the in-loop placement of the validation is what guarantees it, and
    these cases pin the validation itself."""
    import json

    from sparkgraft.table import (
        CommitConflict,
        commit_rewrite as _commit_rewrite,
        commit_snapshot as _commit_snapshot,
        log_versions as _log_versions,
        read_manifest as _read_manifest,
    )

    def mklog(name):
        d = tmp_path / name
        d.mkdir()
        return str(d)

    def fake_files(d, names):
        out = []
        for n in names:
            p = tmp_path / d / n
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_bytes(b"x")
            out.append(str(p))
        return out

    # case 1: racer tombstone AFTER plan -> CommitConflict
    log1 = mklog("log1")
    base = fake_files("t1/data", ["a.parquet", "b.parquet"])
    _commit_snapshot(log1, base)  # v1 (the plan point)
    tomb = fake_files("t1/deletes/d", ["t.parquet"])
    _commit_snapshot(log1, tomb, extra={"op": "mor-delete"})  # v2: racer
    clean = fake_files("t1/clean", ["c.parquet"])
    try:
        _commit_rewrite(log1, clean, remove_files=base, planned_at=1)
        raise AssertionError("stale rewrite committed over the tombstone")
    except CommitConflict:
        pass
    assert _log_versions(log1) == [1, 2]  # head unmoved

    # case 2: plain append after plan -> rebase succeeds, append survives
    log2 = mklog("log2")
    base2 = fake_files("t2/data", ["a.parquet"])
    _commit_snapshot(log2, base2)  # v1 (plan point)
    app = fake_files("t2/app", ["n.parquet"])
    _commit_snapshot(log2, app)  # v2: concurrent APPEND (no deletes)
    clean2 = fake_files("t2/clean", ["c.parquet"])
    v, retries = _commit_rewrite(
        log2, clean2, remove_files=base2, planned_at=1
    )
    assert v == 3
    head = _read_manifest(log2, 3)
    assert sorted(head["files"]) == sorted(app + clean2)
    assert head.get("op") == "rewrite"

    # case 3: a racer's RAW manifest (written without the helpers, as a
    # foreign writer would) — the validation walk must still classify
    # its added delete file and refuse
    log3 = mklog("log3")
    base3 = fake_files("t3/data", ["a.parquet"])
    _commit_snapshot(log3, base3)  # v1 (plan point)
    tomb3 = fake_files("t3/deletes/d", ["t.parquet"])
    with open(f"{log3}/v2.json", "w") as fh:  # racer wins the CAS for v2
        json.dump({"snapshot": 2, "files": sorted(base3 + tomb3),
                   "op": "mor-delete"}, fh)
    clean3 = fake_files("t3/clean", ["c.parquet"])
    try:
        _commit_rewrite(log3, clean3, remove_files=base3, planned_at=1)
        raise AssertionError("retry path ignored the racer's tombstone")
    except CommitConflict:
        pass


def test_txn_commit_rebase_and_same_table_conflict(spark, tmp_path):
    """Protocol-level coverage of `_txn_commit`: a disjoint-table racer
    rebases (winner's update survives), a same-table racer aborts."""
    from sparkgraft.table import (
        CommitConflict,
        txn_commit as _txn_commit,
        txn_publish as _txn_publish,
    )

    txn = str(tmp_path / "txn")
    import os as _os

    _os.makedirs(txn)
    _txn_publish(txn, 1, {"fact": ["f1"], "dim": ["d1"]})
    # A advances the fact
    v2, r2, _ = _txn_commit(txn, {"fact": ["f1", "f2"]}, read_at=1)
    assert (v2, r2) == (2, 0)
    # B read v1 and writes the DIM: disjoint -> rebases onto A's head
    v3, _, _ = _txn_commit(txn, {"dim": ["d1", "d2"]}, read_at=1)
    assert v3 == 3
    from sparkgraft.table import read_manifest as _read_manifest

    head = _read_manifest(txn, 3)["tables"]
    assert head == {"fact": ["f1", "f2"], "dim": ["d1", "d2"]}
    # C read v1 and writes the FACT: same-table -> abort
    try:
        _txn_commit(txn, {"fact": ["f1", "f9"]}, read_at=1)
        raise AssertionError("same-table racer committed")
    except CommitConflict:
        pass


def test_cdf_full_matrix_composition(spark, tmp_path):
    """The full delete-encoding × maintenance matrix in ONE log — a
    history no single key drives: equality tombstone (v2), positional
    DV (v3), a rewrite applying BOTH and retiring them (v4), then an
    append (v5). The aware feed must emit: v1 inserts, v2 equality
    deletes, v3 positional deletes (prior-scoped), v4 NOTHING, v5
    inserts — and the signed replay must equal the head."""
    import os as _os

    from pyspark.sql import functions as F

    from sparkgraft.catalog import load
    from sparkgraft.table import (
        commit_snapshot as _commit_snapshot,
        data_files_of as _data_files_of,
    )
    from sparkgraft.streaming import _mor_cdf_datasource

    root = str(tmp_path / "matrix")
    log_dir = _os.path.join(root, "log")
    out = _os.path.join(root, "out")
    _os.makedirs(log_dir)
    _os.makedirs(out)

    o = load(spark, SF_DIR, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base_dir = _os.path.join(root, "base")
    o.repartition(2).write.parquet(base_dir)
    base = _data_files_of(base_dir)
    _commit_snapshot(log_dir, base)  # v1

    eq_dir = _os.path.join(root, "deletes", "eq")
    o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey"
    ).coalesce(1).write.parquet(eq_dir)
    _commit_snapshot(
        log_dir, _data_files_of(eq_dir), extra={"op": "mor-delete"}
    )  # v2

    pos_dir = _os.path.join(root, "deletes", "pos", "v3")
    (
        spark.read.parquet(*base)
        .select(
            "o_orderkey",
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:", ""
            ).alias("file_path"),
            F.col("_metadata.row_index").alias("row_index"),
        )
        .filter(F.col("o_orderkey") % 10 == 5)
        .select("file_path", "row_index")
        .coalesce(1)
        .write.parquet(pos_dir)
    )
    _commit_snapshot(
        log_dir, _data_files_of(pos_dir), extra={"op": "pos-delete"}
    )  # v3

    # v4: the REWRITE — apply both structures, retire everything
    clean_dir = _os.path.join(root, "clean")
    eq_keys = spark.read.parquet(*_data_files_of(eq_dir)).select(
        "o_orderkey"
    )
    dv = spark.read.parquet(*_data_files_of(pos_dir))
    (
        spark.read.parquet(*base)
        .withColumn(
            "file_path",
            F.regexp_replace(F.col("_metadata.file_path"), "^file:", ""),
        )
        .withColumn("row_index", F.col("_metadata.row_index"))
        .join(F.broadcast(eq_keys), "o_orderkey", "left_anti")
        .join(F.broadcast(dv), ["file_path", "row_index"], "left_anti")
        .select("o_orderkey", "cents")
        .repartition(1)
        .write.parquet(clean_dir)
    )
    head_v3 = base + _data_files_of(eq_dir) + _data_files_of(pos_dir)
    _commit_snapshot(
        log_dir,
        _data_files_of(clean_dir),
        remove_files=head_v3,
        extra={"op": "rewrite"},
    )  # v4

    app_dir = _os.path.join(root, "append")
    o.filter(F.col("o_orderkey") % 1000 == 21).select(
        (F.col("o_orderkey") + F.lit(4_000_000_000)).alias("o_orderkey"),
        "cents",
    ).coalesce(1).write.parquet(app_dir)
    _commit_snapshot(log_dir, _data_files_of(app_dir))  # v5

    spark.dataSource.register(_mor_cdf_datasource())
    batches: dict[int, int] = {}

    def sink(batch_df, batch_id):
        batches[batch_id] = batch_df.count()
        batch_df.write.mode("overwrite").parquet(
            _os.path.join(out, f"b{batch_id:05d}")
        )

    q = (
        spark.readStream.format("sparkgraft_mor_cdf")
        .option("log_dir", log_dir)
        .load()
        .writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation", _os.path.join(root, "ckpt")
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # batch 3 is the rewrite: ZERO events
    assert batches[3] == 0
    feed = spark.read.parquet(_os.path.join(out, "b*"))
    per_version = {
        (r.version, r.change_type): r.n
        for r in feed.groupBy("version", "change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    n_eq = o.filter(F.col("o_orderkey") % 10 == 0).count()
    n_pos = o.filter(F.col("o_orderkey") % 10 == 5).count()
    assert per_version[(2, "delete")] == n_eq
    assert per_version[(3, "delete")] == n_pos
    assert not any(v == 4 for v, _ in per_version)

    sign = F.when(F.col("change_type") == "delete", -1).otherwise(1)
    net = feed.agg(
        F.sum(sign).cast("long").alias("n"),
        F.sum(sign * F.col("cents")).cast("long").alias("c"),
    ).collect()[0]
    head = (
        spark.read.parquet(*_data_files_of(clean_dir))
        .unionByName(spark.read.parquet(*_data_files_of(app_dir)))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("c"),
        )
        .collect()[0]
    )
    assert (net.n, net.c) == (head.n, head.c)
