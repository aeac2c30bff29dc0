"""The shared batch-dir crash-ordering discipline (round 8 — r7 VERDICT
item 5): one implementation of batch validity, snapshot horizons, and the
fold/swap primitives that the publish journal, the ingest ledgers, and
the ANN index append/tombstone log all re-base onto. The integration
semantics are pinned by those features' own tests; this file pins the
primitives' contracts directly."""

from __future__ import annotations

import os

import pytest

from pulfa_sausage_factory_spark import fsutil, statedir


def _mk_batch(spark, path, rows):
    spark.createDataFrame([(r,) for r in rows], "v long").write.mode(
        "overwrite"
    ).parquet(path)


def test_numbered_dirs_filters_and_markers(spark, tmp_path):
    base = str(tmp_path / "log")
    _mk_batch(spark, f"{base}/batch=1", [1])
    _mk_batch(spark, f"{base}/batch=3", [3])
    _mk_batch(spark, f"{base}/batch=7", [7])
    os.remove(f"{base}/batch=7/_SUCCESS")  # killed write
    os.makedirs(f"{base}/batch=junk")  # non-numeric → ignored
    os.makedirs(f"{base}/other=5")  # wrong prefix → ignored

    assert set(statedir.numbered_dirs(spark, base, "batch=")) == {1, 3, 7}
    assert set(
        statedir.numbered_dirs(spark, base, "batch=", committed_only=True)
    ) == {1, 3}
    assert set(
        statedir.numbered_dirs(spark, base, "batch=", above=1)
    ) == {3, 7}
    # missing dir → empty, not an error
    assert statedir.numbered_dirs(spark, str(tmp_path / "nope"), "x=") == {}


def test_snapshot_write_marker_last_and_horizon(spark, tmp_path):
    snap = str(tmp_path / "snaps")
    df = spark.range(5).selectExpr("id as v")
    assert statedir.snapshot_horizon(spark, snap) == -1
    n = statedir.write_snapshot(spark, df, snap, 4)
    assert n == 5
    # the marker is the POST-RENAME one (write_snapshot strips the
    # job-commit marker from the tmp dir and re-creates it at the final
    # path), so marker presence == the rename fully landed
    assert fsutil.exists(spark, f"{snap}/upto=4/_SUCCESS")
    assert statedir.snapshot_horizon(spark, snap) == 4
    assert sorted(
        r.v for r in spark.read.parquet(f"{snap}/upto=4").collect()
    ) == [0, 1, 2, 3, 4]

    # a partially-copied snapshot (no marker) is never adopted
    import shutil

    shutil.copytree(f"{snap}/upto=4", f"{snap}/upto=9")
    os.remove(f"{snap}/upto=9/_SUCCESS")
    assert statedir.snapshot_horizon(spark, snap) == 4
    # ...and a later write to that name replaces the debris
    statedir.write_snapshot(spark, df.limit(2), snap, 9)
    assert statedir.snapshot_horizon(spark, snap) == 9
    assert spark.read.parquet(f"{snap}/upto=9").count() == 2

    assert statedir.delete_superseded_snapshots(spark, snap, 9) == 1
    assert not fsutil.exists(spark, f"{snap}/upto=4")
    assert statedir.snapshot_horizon(spark, snap) == 9


def test_delete_folded_sweeps_only_at_or_below(spark, tmp_path):
    base = str(tmp_path / "log2")
    for i in (0, 2, 5):
        _mk_batch(spark, f"{base}/run_id={i}", [i])
    assert statedir.delete_folded(spark, base, "run_id=", 2) == 2
    assert set(statedir.numbered_dirs(spark, base, "run_id=")) == {5}


def test_replace_dir_swap_and_recovery(spark, tmp_path):
    path = str(tmp_path / "state")
    _mk_batch(spark, path, [1, 2, 3])

    def write_new(tmp):
        _mk_batch(spark, tmp, [9])

    statedir.replace_dir(spark, path, write_new)
    assert [r.v for r in spark.read.parquet(path).collect()] == [9]

    # a failing writer rolls the original back
    def boom(tmp):
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError, match="writer died"):
        statedir.replace_dir(spark, path, boom)
    assert [r.v for r in spark.read.parquet(path).collect()] == [9]

    # crash between the two renames: path gone, .__old__ holds the only
    # copy — recovery restores it (and is a no-op on a healthy dir)
    os.rename(path, path + ".__old__")
    statedir.recover_replaced_dir(spark, path)
    assert [r.v for r in spark.read.parquet(path).collect()] == [9]
    statedir.recover_replaced_dir(spark, path)
    assert fsutil.exists(spark, path)


def test_touch_creates_and_overwrites(spark, tmp_path):
    p = str(tmp_path / "m" / "_SUCCESS")
    fsutil.touch(spark, p)
    assert fsutil.exists(spark, p)
    fsutil.touch(spark, p)  # idempotent overwrite
    assert fsutil.exists(spark, p)


def test_swap_partitions_and_recovery(spark, tmp_path):
    # round-11: the per-partition swap behind retract_documents — a
    # committed sidecar's children swap in (normal path AND crash heal,
    # one routine); a marker-less sidecar is a killed write and is
    # discarded; children already swapped before a crash left the
    # sidecar, so completion is exactly the remainder.
    from pulfa_sausage_factory_spark import fsutil, statedir

    base = str(tmp_path / "part_state")
    for b, v in ((0, 10), (1, 20), (2, 30)):
        spark.createDataFrame([(v,)], "x long").write.parquet(
            f"{base}/batch_id={b}"
        )

    def rewrite(tmp):
        # replace partitions 0 and 2 (drop one value, keep structure)
        spark.createDataFrame(
            [(11, 0), (31, 2)], "x long, batch_id int"
        ).write.partitionBy("batch_id").parquet(tmp)

    swapped = statedir.swap_partitions(spark, base, rewrite)
    assert sorted(swapped) == ["batch_id=0", "batch_id=2"]
    got = {
        (r.batch_id, r.x)
        for r in spark.read.parquet(base).collect()
    }
    assert got == {(0, 11), (1, 20), (2, 31)}
    assert not fsutil.exists(spark, base + ".__partswap__")

    # crash heal, committed sidecar: children awaiting rename swap in
    tmp = base + ".__partswap__"
    spark.createDataFrame(
        [(99, 1)], "x long, batch_id int"
    ).write.partitionBy("batch_id").parquet(tmp)
    assert fsutil.exists(spark, f"{tmp}/_SUCCESS")
    assert statedir.recover_partition_swaps(spark, base) == ["batch_id=1"]
    assert {
        (r.batch_id, r.x) for r in spark.read.parquet(base).collect()
    } == {(0, 11), (1, 99), (2, 31)}

    # crash heal, marker-less sidecar (killed write): discarded whole
    spark.createDataFrame(
        [(777, 0)], "x long, batch_id int"
    ).write.partitionBy("batch_id").parquet(tmp)
    fsutil.delete(spark, f"{tmp}/_SUCCESS")
    assert statedir.recover_partition_swaps(spark, base) == []
    assert not fsutil.exists(spark, tmp)
    assert {
        (r.batch_id, r.x) for r in spark.read.parquet(base).collect()
    } == {(0, 11), (1, 99), (2, 31)}

    # no sidecar → no-op
    assert statedir.recover_partition_swaps(spark, base) == []


def test_writer_lease_lifecycle(spark, tmp_path):
    # round-12 (r11 VERDICT item 2): the ENFORCED single-writer contract.
    # acquire / a second concurrent writer refuses loudly / renew /
    # release / stale-lease takeover with a monotone fencing token / the
    # nonce guard against epoch-number reuse after a clean release.
    import time

    base = str(tmp_path / "leased")
    l1 = statedir.acquire_lease(spark, base, owner="w1", ttl_sec=60)
    assert l1.token == 0

    with pytest.raises(statedir.LeaseHeld, match="held"):
        statedir.acquire_lease(spark, base, owner="w2", ttl_sec=60)

    l1.renew()
    l1.check()

    # stale takeover: the holder "crashed" (its mtime ages past the ttl)
    fsutil.set_mtime_ms(spark, l1.path, int(time.time() * 1000) - 120_000)
    l2 = statedir.acquire_lease(spark, base, owner="w2", ttl_sec=60)
    assert l2.token == 1  # monotone fencing token
    with pytest.raises(statedir.LeaseFenced, match="fenced"):
        l1.check()
    with pytest.raises(statedir.LeaseFenced):
        l1.renew()
    # a fenced holder's release must not touch the successor's record
    l1.release()
    l2.check()

    # clean release → reacquirable; the epoch number restarts but the
    # NONCE fences an ancient holder whose token number comes around
    l2.release()
    l3 = statedir.acquire_lease(spark, base, owner="w3", ttl_sec=60)
    ghost = statedir.WriterLease(
        spark, l3.base, l3.token, "other-nonce", "ghost", 60
    )
    with pytest.raises(statedir.LeaseFenced, match="another holder"):
        ghost.check()
    l3.release()

    # context-manager form releases on exit
    with statedir.acquire_lease(spark, base, owner="w4", ttl_sec=60) as l4:
        l4.check()
    statedir.acquire_lease(spark, base, owner="w5", ttl_sec=60).release()


def test_lease_check_read_failure_is_not_fenced(spark, tmp_path, monkeypatch):
    # round-12 review: fsutil.read_text folds EVERY java-side failure to
    # None (so probers racing a delete see absence) — but check() turned
    # that None straight into LeaseFenced, so a transient IO hiccup on a
    # still-present record aborted a healthy long run with a false
    # "another writer took over" diagnosis. A failed read on an EXISTING
    # record now raises plain LeaseError (retryable, not a takeover
    # verdict), and release() skips the delete rather than risk removing
    # a successor's record it could not verify.
    base = str(tmp_path / "ioleased")
    lease = statedir.acquire_lease(spark, base, owner="w1", ttl_sec=60)
    lease.check()

    real_read = statedir.fsutil.read_text
    monkeypatch.setattr(
        statedir.fsutil, "read_text", lambda *a, **k: None
    )
    with pytest.raises(statedir.LeaseError) as exc:
        lease.check()
    assert not isinstance(exc.value, statedir.LeaseFenced)
    assert "transient" in str(exc.value)
    # release under the same failure: no delete, record survives
    lease.release()
    monkeypatch.setattr(statedir.fsutil, "read_text", real_read)
    lease.check()  # still the valid holder

    # genuine absence (record deleted, epoch dir gone) IS fenced
    fsutil.delete(spark, lease.path)
    with pytest.raises(statedir.LeaseFenced):
        lease.check()


def test_lease_acquisition_race_converges_to_one_holder(spark, tmp_path):
    # round-12: REAL concurrent acquirers, not sequential simulation.
    # LocalFileSystem's create(overwrite=false) is exists-then-create
    # (not O_EXCL), so acquire_lease documents a residual window where
    # two same-token racers can both transiently believe they won — the
    # guaranteed property is CONVERGENCE: after the dust settles, at
    # most one lease still validates (everyone else fences on the nonce
    # or the epoch), and the destructive primitives re-check at the
    # last responsible moment, which is the actual safety net. Assert
    # exactly that: >=1 winner, every loser raised LeaseHeld, and
    # exactly ONE winner's check() passes afterwards.
    import threading

    base = str(tmp_path / "raced")
    results: list = [None] * 8
    barrier = threading.Barrier(len(results))

    def go(i):
        barrier.wait()
        try:
            results[i] = statedir.acquire_lease(
                spark, base, owner=f"racer-{i}", ttl_sec=60
            )
        except statedir.LeaseHeld as exc:
            results[i] = exc

    threads = [threading.Thread(target=go, args=(i,))
               for i in range(len(results))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    winners = [r for r in results if isinstance(r, statedir.WriterLease)]
    losers = [r for r in results if not isinstance(r, statedir.WriterLease)]
    assert winners, "someone must acquire"
    assert all(isinstance(r, statedir.LeaseHeld) for r in losers)
    live = []
    for w in winners:
        try:
            w.check()
            live.append(w)
        except statedir.LeaseFenced:
            pass
    assert len(live) == 1, f"{len(live)} leases validate after the race"
    # ...and a late arrival still refuses against the surviving holder
    with pytest.raises(statedir.LeaseHeld):
        statedir.acquire_lease(spark, base, owner="late", ttl_sec=60)
    live[0].release()


def test_fenced_writer_aborts_before_destruction(spark, tmp_path):
    # the fencing token is validated at the last responsible moment of
    # each destructive primitive: a superseded writer's replace_dir
    # aborts with the live dir untouched, and its swap_partitions leaves
    # only a MARKER-LESS sidecar that every heal discards — never a
    # committed sidecar whose stale children a successor would adopt.
    import time

    base = str(tmp_path / "fenced_state")
    data = f"{base}/data"
    spark.createDataFrame(
        [(1, 0), (2, 1)], "v long, batch_id int"
    ).write.partitionBy("batch_id").parquet(data)

    lease = statedir.acquire_lease(spark, base, owner="old", ttl_sec=60)
    fsutil.set_mtime_ms(spark, lease.path, int(time.time() * 1000) - 120_000)
    statedir.acquire_lease(spark, base, owner="new", ttl_sec=60)

    def _fold(tmp):
        spark.createDataFrame([(99, -1)], "v long, batch_id int").write\
            .partitionBy("batch_id").parquet(tmp)

    with pytest.raises(statedir.LeaseFenced):
        statedir.replace_dir(spark, data, _fold, lease=lease)
    assert {r.v for r in spark.read.parquet(data).collect()} == {1, 2}

    def _swap(tmp):
        spark.createDataFrame([(77, 0)], "v long, batch_id int").write\
            .partitionBy("batch_id").parquet(tmp)

    with pytest.raises(statedir.LeaseFenced):
        statedir.swap_partitions(spark, data, _swap, lease=lease)
    assert {r.v for r in spark.read.parquet(data).collect()} == {1, 2}
    # the stale writer's sidecar is marker-less → discarded by the heal
    assert not fsutil.exists(spark, f"{data}.__partswap__/_SUCCESS")
    assert statedir.recover_partition_swaps(spark, data) == []
    assert {r.v for r in spark.read.parquet(data).collect()} == {1, 2}


def test_verbs_enforce_single_writer(spark, tmp_path):
    # every state-mutating curation verb and index WAL verb refuses while
    # another writer's lease is live — the documented contract is now
    # mechanical, not conventional.
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        CurationConfig,
        _ingest_batch,
        check_ingest_state,
        coarsen_overlap_mod,
        compact_ingest_state,
        export_training_corpus,
        prune_ingest_audit,
        retract_documents,
    )
    from pyspark.sql import functions as F

    state = str(tmp_path / "locked_state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none")
    lines = spark.createDataFrame(
        [(json.dumps({"doc_id": 1, "text": "some archival text " * 20}),)],
        "value string",
    )
    # normal path: verbs acquire + release transparently
    rep = _ingest_batch(spark, lines, 0, cfg, state, sch)
    assert rep["admitted"] == 1

    other = statedir.acquire_lease(spark, state, owner="other-writer")
    try:
        # the live lease is observable in the state report
        from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
            ingest_state_report,
        )

        srep = {
            r.artifact: r.detail
            for r in ingest_state_report(spark, state).collect()
        }
        assert "_lease" in srep and "other-writer" in srep["_lease"]
        with pytest.raises(statedir.LeaseHeld):
            _ingest_batch(spark, lines, 1, cfg, state, sch)
        with pytest.raises(statedir.LeaseHeld):
            retract_documents(spark, state, [1], cfg)
        with pytest.raises(statedir.LeaseHeld):
            compact_ingest_state(spark, state, max_files=0)
        with pytest.raises(statedir.LeaseHeld):
            prune_ingest_audit(spark, state, cfg, up_to_batch=0)
        with pytest.raises(statedir.LeaseHeld):
            coarsen_overlap_mod(spark, state, 32)
        with pytest.raises(statedir.LeaseHeld):
            check_ingest_state(spark, state, cfg)
        # export heals corpus/, and the heal deletes a marker-less
        # .__partswap__ sidecar: a live writer's in-flight scrub write
        with pytest.raises(statedir.LeaseHeld):
            export_training_corpus(spark, state, str(tmp_path / "export"))
        # the holder itself passes its lease through
        rep2 = _ingest_batch(spark, lines, 1, cfg, state, sch, lease=other)
        assert rep2["admitted"] == 0  # duplicate text — but it RAN
    finally:
        other.release()

    # the index WAL verbs hold a lease on the INDEX dir
    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )

    para = (
        "the archival record of the expedition describes a long river "
        "journey through dense forest where the party catalogued birds "
    )
    other = (
        "totally different archival material concerning lighthouse lens "
        "rotation schedules and keeper logbooks maintained offshore "
    )
    vecs = spark.createDataFrame(
        [(1000 + i, (para if i % 2 else other) + f" tail {i}")
         for i in range(12)],
        "vec_id long, text string",
    ).select(
        "vec_id",
        hashed_text_embedding(F.col("text"), dim=64).alias("embedding"),
    ).localCheckpoint()
    idx_path = str(tmp_path / "locked_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            vecs, m=8, n_codes=8, n_cells=4, iters=2, sample_fraction=1.0
        ),
        idx_path,
    )
    idx_lease = statedir.acquire_lease(spark, idx_path, owner="other")
    try:
        # the live lease is observable in the index report
        rep = {
            r.artifact: r.detail
            for r in ann_index.pq_index_report(spark, idx_path).collect()
        }
        assert "_lease" in rep and "other" in rep["_lease"]
        with pytest.raises(statedir.LeaseHeld):
            ann_index.append_to_pq_index(spark, idx_path, vecs.limit(2))
        with pytest.raises(statedir.LeaseHeld):
            ann_index.remove_from_pq_index(spark, idx_path, [1])
        with pytest.raises(statedir.LeaseHeld):
            ann_index.compact_pq_index(spark, idx_path)
        # pass-through works for the holder
        out = ann_index.remove_from_pq_index(
            spark, idx_path, [1], lease=idx_lease
        )
        assert out["rows"] == 1
    finally:
        idx_lease.release()
    # released → verbs run again, and the report's lease row is gone
    assert ann_index.compact_pq_index(spark, idx_path)["folded_batches"] == 1
    arts = {
        r.artifact
        for r in ann_index.pq_index_report(spark, idx_path).collect()
    }
    assert "_lease" not in arts


def test_journal_verbs_enforce_single_writer(spark, tmp_path):
    # round 13 (VERDICT r12 item 6 — closes the lease grid): the journal
    # verbs compose with a run-scoped pipeline lease exactly like the
    # curation verbs — a second publisher raises LeaseHeld while the
    # pipeline's lease is live, the holder passes its lease THROUGH
    # (renewed, never released), and a fenced ex-holder aborts loudly.
    from pulfa_sausage_factory_spark.streaming import incremental

    jdir = str(tmp_path / "journal")
    outs = spark.createDataFrame(
        [("/mets/a.xml", "d1"), ("/eads/e.xml", "d2")],
        "path string, digest string",
    )
    # normal path: verbs acquire + release transparently
    rep = incremental.journal_publish(spark, outs, jdir, run_id=0)
    assert rep["published"] == 2

    run_lease = statedir.acquire_lease(spark, jdir, owner="pipeline-run")
    try:
        # a second writer refuses at acquisition for every journal verb
        with pytest.raises(statedir.LeaseHeld):
            incremental.journal_publish(spark, outs, jdir, run_id=1)
        with pytest.raises(statedir.LeaseHeld):
            incremental.compact_journal(spark, jdir, up_to_run=0)
        with pytest.raises(statedir.LeaseHeld):
            incremental.abandon_run(spark, jdir, 0)
        # the holder passes its run lease through — the ead_pipeline
        # composition (publish, then compact, one lease, still held)
        outs2 = spark.createDataFrame(
            [("/mets/a.xml", "d1x"), ("/eads/e.xml", "d2")],
            "path string, digest string",
        )
        rep = incremental.journal_publish(
            spark, outs2, jdir, run_id=1, lease=run_lease
        )
        assert rep["published"] == 1 and rep["unchanged"] == 1
        rep = incremental.compact_journal(
            spark, jdir, up_to_run=0, lease=run_lease
        )
        assert rep["horizon"] == 0 and rep["snapshot_paths"] == 2
        run_lease.renew()  # still held after both verbs
    finally:
        run_lease.release()

    # fencing: a stale takeover supersedes the old holder mid-sequence
    import time as _time

    old = statedir.acquire_lease(spark, jdir, owner="old-run", ttl_sec=60)
    fsutil.set_mtime_ms(spark, old.path, int(_time.time() * 1000) - 120_000)
    statedir.acquire_lease(spark, jdir, owner="new-run", ttl_sec=60).release()
    with pytest.raises(statedir.LeaseFenced):
        incremental.journal_publish(
            spark, outs, jdir, run_id=7, lease=old
        )


#: one hand-built tree per log layout: the committed snapshot upto=2 is
#: the horizon (upto=9 lacks its marker), id 1 is folded debris, 4 and 7
#: are killed entries, 5 is a gap, and id 6 is the second kind's entry
#: where the layout has one
_LOG_TREES = {
    "index": ("INDEX_LOG", {"append": {1: True, 3: True, 4: False,
                                       7: False},
                            "tombstone": {6: True}}),
    "journal": ("JOURNAL_LOG", {"run": {1: True, 3: True, 4: False,
                                        6: True, 7: False}}),
}

#: (operation, id, outcome on the index tree, outcome on the journal
#: tree); an outcome is the returned id or kind, or the phrase of the
#: refusal. Run in order on one tree: only the last row mutates it.
_LOG_CASES = [
    ("claim", None, 8, 8),               # past the killed top entry 7
    ("claim", 9, 9, 9),                  # new
    ("claim", 3, 3, 3),                  # replay of a committed entry
    ("claim", 4, 4, 4),                  # replay of a killed entry
    ("claim", 5, "neither a new", "neither a new"),  # reused gap
    ("claim", 2, "compaction horizon", "compaction horizon"),
    ("claim", 1, "compaction horizon", "compaction horizon"),
    ("claim", -1, "negative", "negative"),
    ("claim", 6, "attempted tombstone batch", 6),    # cross-kind
    ("abandon", 3, "COMMITTED", "COMMITTED"),
    ("abandon", 6, "COMMITTED", "COMMITTED"),
    ("abandon", 5, "nothing to abandon", "nothing to abandon"),
    ("abandon", 1, "nothing to abandon", "nothing to abandon"),
    ("abandon", 4, "append", "run"),     # the killed entry goes
]


@pytest.mark.parametrize("log", sorted(_LOG_TREES))
def test_log_view_discipline_on_hand_built_trees(spark, tmp_path, log,
                                                 count_jobs):
    # the one id/pending/fold/abandon discipline both at-least-once logs
    # share, read from marker touches alone: no Spark job runs
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.streaming import incremental

    name, entries = _LOG_TREES[log]
    layout = getattr(ann_index if log == "index" else incremental, name)
    kind = next(iter(layout.kinds))

    def build(base, snaps, tree):
        for up, ok in snaps.items():
            fsutil.mkdirs(spark, f"{base}/{layout.snapshot}/upto={up}")
            if ok:
                fsutil.touch(spark, f"{base}/{layout.snapshot}/upto={up}/"
                             f"{statedir.MARKER}")
        for k, ids in tree.items():
            for nid, ok in ids.items():
                d = layout.view(spark, base).path(k, nid)
                fsutil.mkdirs(spark, d)
                if ok:
                    fsutil.touch(spark, f"{d}/{statedir.MARKER}")
        return layout.view(spark, base)

    def run():
        base = str(tmp_path / "log")
        v = build(base, {2: True, 9: False}, entries)
        assert v.horizon == 2 and v.snapshots == {2: True, 9: False}
        assert v.attempted() == {3, 4, 6, 7}
        assert v.committed() == [3, 6] and v.pending == [4, 7]
        assert v.next_id() == 8
        # the pending cap: nothing at or past the lowest killed entry folds
        assert v.foldable([3, 6]) == [3] and v.foldable([4]) == []
        for op, nid, *outcomes in _LOG_CASES:
            want = outcomes[log == "journal"]
            call = (lambda: v.claim(kind, nid, "verb")) if op == "claim" \
                else (lambda: v.abandon(nid, "verb"))
            if isinstance(want, str) and want not in layout.kinds:
                with pytest.raises(ValueError, match=want):
                    call()
            else:
                assert call() == want, (op, nid)
        # with killed entry 4 abandoned only 7 caps the fold
        v = layout.view(spark, base)
        assert v.pending == [7] and v.foldable([3, 6]) == [3, 6]
        assert v.next_id() == 8
        # auto ids also pass the horizon: a snapshot above every entry
        v = build(str(tmp_path / "h"), {9: True}, {kind: {1: True}})
        assert v.horizon == 9 and v.attempted() == set()
        assert v.next_id() == 10
        assert layout.view(spark, str(tmp_path / "none")).next_id() == 1

    _, ids, jobs = count_jobs(run)
    assert ids == [], jobs


def test_log_markers_and_prefixes_live_in_statedir():
    # outside statedir.py the package names the commit marker only as
    # statedir.MARKER, and no call hands a log-entry prefix to a statedir
    # helper but the two LogLayout declarations: a log reader that lists
    # its own entry dirs would re-derive the discipline the view owns
    import ast
    from pathlib import Path

    pkg = Path(statedir.__file__).parent
    prefixes = {"batch=", "run_id=", "upto="}
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "statedir.py":
            continue
        tree = ast.parse(path.read_text())
        docs = {
            id(n.body[0].value) for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and n.body and isinstance(n.body[0], ast.Expr)
        }
        imported = {
            a.asname or a.name for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            and (n.module or "").endswith("statedir") for a in n.names
        }
        for n in ast.walk(tree):
            if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                    and "_SUCCESS" in n.value and id(n) not in docs):
                found.append((path.name, n.lineno, "_SUCCESS literal"))
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            callee = (
                f.attr if isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Name) and f.value.id == "statedir"
                else f.id if isinstance(f, ast.Name) and f.id in imported
                else None
            )
            if callee is None or callee == "LogLayout":
                continue
            for a in [*n.args, *(k.value for k in n.keywords)]:
                if isinstance(a, ast.Constant) and a.value in prefixes:
                    found.append((path.name, n.lineno,
                                  f"{callee}({a.value!r})"))
    assert not found, f"log discipline outside statedir: {found}"
