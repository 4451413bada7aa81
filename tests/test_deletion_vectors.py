"""Round-11 deletion vectors (VERDICT r10 #2): merge-on-read point
deletes. ``commit_delete(..., merge_on_read=True)`` records doomed row
POSITIONS in the manifest entry (``dv``) instead of rewriting files;
every read surface — ``read_version`` / ``_load_entries``, the vstore
Python data source, ``table_changes``, the streaming CDF source —
masks the positions out, so a DV read is row-for-row equal to the
copy-on-write read of the same delete. Compaction materializes DVs
away; rollback restores pre-DV state; entry identity everywhere is
(file, DV state), so a DV-only commit still registers as change."""

import os

import pytest

import engine.versioned_store as vs


def _mk(spark, tmp_path, n_files=4, rows_per=8, **kw):
    store = str(tmp_path / "s")
    n = n_files * rows_per
    df = spark.createDataFrame(
        [("p", k, f"v:{k}") for k in range(n)],
        "part string, k long, v string",
    ).repartitionByRange(n_files, "k")
    vs.commit_overwrite(df, store, "part", **kw)
    return store, n


def _keys(spark, ks):
    return spark.createDataFrame(
        [("p", k) for k in ks], "part string, k long"
    )


def test_dv_delete_reads_like_cow_delete(spark, tmp_path):
    store, n = _mk(spark, tmp_path)
    cow = str(tmp_path / "cow")
    vs.clone_store(spark, store, cow)

    v2 = vs.commit_delete(
        spark, store, _keys(spark, [5, 20]), ["part", "k"],
        merge_on_read=True,
    )
    vs.commit_delete(spark, cow, _keys(spark, [5, 20]), ["part", "k"])

    got = sorted(
        tuple(r) for r in vs.read_version(spark, store, v2).collect()
    )
    want = sorted(
        tuple(r) for r in vs.read_version(spark, cow).collect()
    )
    assert got == want and len(got) == n - 2

    # merge-on-read: ZERO data files written or dropped — the commit
    # re-lists existing files with dv state
    m1 = vs._read_manifest(store, 1)
    m2 = vs._read_manifest(store, v2)
    assert {e["file"] for e in m1["files"]} == {
        e["file"] for e in m2["files"]
    }
    dvd = {e["file"]: e["dv"] for e in m2["files"] if e.get("dv")}
    assert dvd and all(d["n"] == len(d["pos"]) for d in dvd.values())
    assert sum(d["n"] for d in dvd.values()) == 2
    # and v1 still reads everything (time travel unaffected)
    assert vs.read_version(spark, store, 1).count() == n


def test_dv_union_across_successive_deletes(spark, tmp_path):
    store, n = _mk(spark, tmp_path)
    vs.commit_delete(
        spark, store, _keys(spark, [1]), ["part", "k"],
        merge_on_read=True,
    )
    v3 = vs.commit_delete(
        spark, store, _keys(spark, [2]), ["part", "k"],
        merge_on_read=True,
    )
    got = sorted(
        r.k for r in vs.read_version(spark, store, v3).collect()
    )
    assert got == [k for k in range(n) if k not in (1, 2)]
    m3 = vs._read_manifest(store, v3)
    dvs = [e["dv"] for e in m3["files"] if e.get("dv")]
    assert sum(d["n"] for d in dvs) == 2  # unioned into one entry


def test_dv_full_file_drops_entry(spark, tmp_path):
    store, n = _mk(spark, tmp_path, n_files=4, rows_per=4)
    man = vs._read_manifest(store, 1)
    lo, hi = sorted(
        (e["stats"]["k"][0], e["stats"]["k"][1]) for e in man["files"]
    )[0]
    v2 = vs.commit_delete(
        spark, store, _keys(spark, range(lo, hi + 1)), ["part", "k"],
        merge_on_read=True,
    )
    m2 = vs._read_manifest(store, v2)
    assert len(m2["files"]) == len(man["files"]) - 1
    assert not any(e.get("dv") for e in m2["files"])
    assert vs.read_version(spark, store, v2).count() == n - (hi - lo + 1)


def test_upsert_after_dv_materializes_it(spark, tmp_path):
    """A later copy-on-write rewrite of a DV'd file reads only live
    rows (no resurrection) and stages a dv-less replacement."""
    store, n = _mk(spark, tmp_path)
    vs.commit_delete(
        spark, store, _keys(spark, [5]), ["part", "k"],
        merge_on_read=True,
    )
    chg = spark.createDataFrame(
        [("p", 6, "NEW")], "part string, k long, v string"
    )
    v3 = vs.commit_upsert(spark, store, chg, ["part", "k"])
    got = {r.k: r.v for r in vs.read_version(spark, store, v3).collect()}
    assert 5 not in got and got[6] == "NEW" and len(got) == n - 1
    m3 = vs._read_manifest(store, v3)
    # 5 and 6 share a range file: its dv'd entry was rewritten away
    assert not any(e.get("dv") for e in m3["files"])


def test_table_changes_across_dv_step(spark, tmp_path):
    store, n = _mk(spark, tmp_path)
    v2 = vs.commit_delete(
        spark, store, _keys(spark, [5, 20]), ["part", "k"],
        merge_on_read=True,
    )
    feed = vs.table_changes(spark, store, 1, v2, ["part", "k"])
    rows = sorted((r.k, r._change_type) for r in feed.collect())
    assert rows == [(5, "delete"), (20, "delete")]


def test_version_diff_counts_live_rows(spark, tmp_path):
    store = str(tmp_path / "s")
    df = spark.createDataFrame(
        [("src", i, 10, i * 7) for i in range(16)],
        "source string, doc_id long, n_tokens long, h long",
    ).repartitionByRange(4, "doc_id")
    vs.commit_overwrite(df, store, "source")
    v2 = vs.commit_delete(
        spark,
        store,
        spark.createDataFrame(
            [("src", 3)], "source string, doc_id long"
        ),
        ["source", "doc_id"],
        merge_on_read=True,
    )
    d = {r.source: r for r in vs.version_diff(spark, store, 1, v2).collect()}
    r = d["src"]
    assert (r.n_removed, r.n_added, r.n_changed) == (1, 0, 0)
    assert r.n_unchanged == 15  # 12 shared-entry live + 3 diffed


def test_datasource_read_applies_dv(spark, tmp_path):
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store, n = _mk(spark, tmp_path, **{"bloom_cols": ["k"]})
    v2 = vs.commit_delete(
        spark, store, _keys(spark, [5]), ["part", "k"],
        merge_on_read=True,
    )
    got = sorted(
        r.k for r in spark.read.format("vstore").load(store).collect()
    )
    assert got == [k for k in range(n) if k != 5]
    # point-filter pruning composes (the dv'd key probes to zero rows)
    hit = (
        spark.read.format("vstore")
        .option("point", "k:5")
        .load(store)
        .collect()
    )
    assert hit == []
    # pinned old version still reads the row
    v1 = (
        spark.read.format("vstore").option("version", "1").load(store)
    )
    assert v1.filter("k = 5").count() == 1


def test_streaming_cdf_emits_dv_deletes(spark, tmp_path):
    from engine.sources.vstore_datasource import register_vstore

    register_vstore(spark)
    store, n = _mk(spark, tmp_path)
    v2 = vs.commit_delete(
        spark, store, _keys(spark, [5, 20]), ["part", "k"],
        merge_on_read=True,
    )
    feed = (
        spark.read.format("vstore")
        .option("read_changes", "true")
        .option("key_cols", "part,k")
        .option("from_version", "1")
        .load(store)
    )
    rows = sorted((r.k, r._change_type) for r in feed.collect())
    assert rows == [(5, "delete"), (20, "delete")]


def test_rollback_across_dv_restores_rows(spark, tmp_path):
    store, n = _mk(spark, tmp_path)
    vs.commit_delete(
        spark, store, _keys(spark, [5]), ["part", "k"],
        merge_on_read=True,
    )
    v3 = vs.rollback(store, 1)
    assert vs.read_version(spark, store, v3).count() == n
    assert not any(
        e.get("dv") for e in vs._read_manifest(store, v3)["files"]
    )


def test_compaction_materializes_dvs(spark, tmp_path):
    store, n = _mk(spark, tmp_path)
    vs.commit_delete(
        spark, store, _keys(spark, [5]), ["part", "k"],
        merge_on_read=True,
    )
    v3 = vs.compact_partitions(spark, store, files_per_partition=1)
    m3 = vs._read_manifest(store, v3)
    assert not any(e.get("dv") for e in m3["files"])
    got = sorted(r.k for r in vs.read_version(spark, store, v3).collect())
    assert got == [k for k in range(n) if k != 5]
    # the GDPR story: after vacuum, no retained file holds the row
    vs.vacuum(store, keep_latest=1)
    data = {f for f in os.listdir(os.path.join(store, "data"))}
    assert data == {e["file"] for e in m3["files"]}


def test_dv_cap_raises(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(vs, "_DV_MAX_POSITIONS", 3)
    store, n = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="merge-on-read"):
        vs.commit_delete(
            spark, store, _keys(spark, range(8)), ["part", "k"],
            merge_on_read=True,
        )


def test_dv_only_commit_conflicts_like_a_write(spark, tmp_path):
    """A DV commit changes an entry's KEY, so the OCC check treats it
    as a write to its partition: a racing commit to the same
    partition must conflict instead of silently resurrecting the
    deleted row through a rebase."""
    store, n = _mk(spark, tmp_path)
    real = vs._claim_manifest
    fired = []

    def hooked(store_, manifest):
        if not fired:
            fired.append(1)
            vs.commit_delete(
                spark, store, _keys(spark, [5]), ["part", "k"],
                merge_on_read=True,
            )
        return real(store_, manifest)

    vs._claim_manifest = hooked
    try:
        with pytest.raises(vs.CommitConflict):
            vs.commit_delete(
                spark, store, _keys(spark, [20]), ["part", "k"],
                max_retries=3,
            )
    finally:
        vs._claim_manifest = real


def test_dv_survives_manifest_checkpoint(spark, tmp_path, monkeypatch):
    """REGRESSION (review r11 #1): parquet manifest checkpoints must
    round-trip the dv field — a checkpoint-cadence version resolving
    without it would resurrect every DV-deleted row, and vacuum
    (which checkpoints the oldest retained version and drops the
    delta JSONs that still carried dv) would make it permanent."""
    monkeypatch.setattr(vs, "_CHECKPOINT_INTERVAL", 3)
    store, n = _mk(spark, tmp_path)
    vs.commit_delete(
        spark, store, _keys(spark, [5]), ["part", "k"],
        merge_on_read=True,
    )
    # v3 lands on the checkpoint cadence carrying the dv'd entry
    chg = spark.createDataFrame(
        [("p", 1000, "new")], "part string, k long, v string"
    )
    v3 = vs.commit_upsert(spark, store, chg, ["part", "k"])
    assert v3 == 3 and os.path.exists(vs._ckpt_path(store, 3))
    m3 = vs._read_manifest(store, 3)
    assert any(e.get("dv") for e in m3["files"])  # round-tripped
    got = sorted(r.k for r in vs.read_version(spark, store, 3).collect())
    assert got == [k for k in range(n) if k != 5] + [1000]

    # and through vacuum: only the checkpointed version remains
    vs.vacuum(store, keep_latest=1)
    got = sorted(r.k for r in vs.read_version(spark, store).collect())
    assert got == [k for k in range(n) if k != 5] + [1000]


def test_cli_versions_reports_live_rows(spark, tmp_path, capsys):
    """REGRESSION (review r11 #4): `vstore versions` counts live rows
    (dv-deleted rows excluded), matching what reads return."""
    from engine.__main__ import main

    store, n = _mk(spark, tmp_path)
    vs.commit_delete(
        spark, store, _keys(spark, [1, 2, 3]), ["part", "k"],
        merge_on_read=True,
    )
    assert main(["vstore", "versions", store]) == 0
    out = capsys.readouterr().out
    assert f"{n} rows" in out  # v1: all physical rows live
    assert f"{n - 3} rows" in out  # v2: dv'd rows excluded


def test_store_plans_carry_no_python_rdd_leaf(spark, tmp_path, monkeypatch):
    """Every frame the store builds from driver-held rows — the
    file→partition map, the DV positions, the planner's collected keys
    — is a LocalTableScan (engine.io.local_frame). An
    applySchemaToPythonRDD leaf would start Python workers in every job
    that scans it, and a store read or commit pays that per job."""
    from engine.plans import formatted_plan, rdd_leaf_classes

    store, n = _mk(spark, tmp_path)
    v2 = vs.commit_delete(
        spark, store, _keys(spark, [5, 20]), ["part", "k"],
        merge_on_read=True,
    )
    plans = {
        "read_latest": vs.read_version(spark, store),
        "read_point": vs.read_version(
            spark, store, point_filters={"k": 7}
        ),
        "table_changes": vs.table_changes(
            spark, store, 1, v2, ["part", "k"]
        ),
    }
    plans = {name: formatted_plan(df) for name, df in plans.items()}

    # the survivors of an upsert, as staged: a changeset built without
    # a Python RDD of its own, so any such leaf is the store's
    staged = []
    stage = vs._stage_files

    def spy(df, *a, **kw):
        staged.append(formatted_plan(df))
        return stage(df, *a, **kw)

    monkeypatch.setattr(vs, "_stage_files", spy)
    chg = spark.range(3).selectExpr(
        "'p' AS part", "id * 8 AS k", "concat('u:', id) AS v"
    )
    vs.commit_upsert(spark, store, chg, ["part", "k"])
    (plans["commit_upsert"],) = staged

    leaves = {
        name: rdd_leaf_classes(plan, set())
        for name, plan in plans.items()
    }
    assert all(not c for c in leaves.values()), leaves
    assert "applySchemaToPythonRDD" not in "".join(plans.values())
    # the upsert did rewrite files: its survivors anti-join the
    # planner's keys, broadcast from a local relation
    assert "LocalTableScan" in plans["commit_upsert"]
    got = sorted(r.k for r in vs.read_version(spark, store).collect())
    assert got == sorted(set(range(n)) - {5, 20})
