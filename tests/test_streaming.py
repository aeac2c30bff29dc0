"""M4 — incremental processing (T1/T2/T4) and event-time streaming windows."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from pulfa_sausage_factory_spark.io import load_table
from pulfa_sausage_factory_spark.operators import events as ev_ops
from pulfa_sausage_factory_spark.streaming import incremental, windows


def test_available_now_exactly_once(spark, tmp_path):
    """T2/T4: Trigger.AvailableNow + checkpoint → each file processed exactly
    once across successive runs (the .last_run analog)."""
    root = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    root.mkdir()
    (root / "e1.xml").write_text("<a/>")
    (root / "e2.xml").write_text("<b/>")

    seen: list[str] = []

    def batch_fn(df, epoch_id):
        seen.extend(r.path for r in df.select("path").collect())

    incremental.process_available(spark, str(root), ckpt, batch_fn, glob="*.xml")
    assert len(seen) == 2

    # second run, no new files → nothing reprocessed
    incremental.process_available(spark, str(root), ckpt, batch_fn, glob="*.xml")
    assert len(seen) == 2

    # add one file → exactly one more
    time.sleep(1.1)
    (root / "e3.xml").write_text("<c/>")
    incremental.process_available(spark, str(root), ckpt, batch_fn, glob="*.xml")
    assert len(seen) == 3 and any(p.endswith("e3.xml") for p in seen)


def test_streaming_tumbling_matches_batch(spark, sf_dir, tmp_path):
    """The streaming tumbling agg over a bounded file stream produces the
    same (window_start, event_type, n_events) as the batch operator."""
    ev = load_table(spark, sf_dir, "events")
    staged = str(tmp_path / "events_parquet")
    ev.write.parquet(staged)

    stream = spark.readStream.schema(ev.schema).parquet(staged)
    agg = windows.tumbling(stream, "1 hour", watermark="0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.sql("select * from tumbling_test").collect()
    }
    want = {
        (str(r.window_start), r.event_type): r.n_events
        for r in ev_ops.tumbling_counts(ev, "1 hour").collect()
    }
    assert got == want


def test_streaming_sessions_match_batch_sessionize(spark, sf_dir, tmp_path):
    """session_window (streaming) and the lag-gap batch formulation produce
    identical session partitions for gap-based sessions: same number of
    sessions and same per-session event counts per user."""
    ev = load_table(spark, sf_dir, "events")
    staged = str(tmp_path / "events_parquet2")
    ev.write.parquet(staged)

    stream = spark.readStream.schema(ev.schema).parquet(staged)
    agg = windows.sessions(stream, gap="30 minutes", watermark="0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.user_id, r.n_events)
        for r in spark.sql("select * from sessions_test").collect()
    )
    want = sorted(
        (r.user_id, r.n_events)
        for r in ev_ops.sessionize(ev, gap_minutes=30).collect()
    )
    assert got == want


def test_stateful_running_user_stats(spark, sf_dir, tmp_path):
    """applyInPandasWithState: cumulative per-user totals across two
    micro-batches equal the batch groupBy over the union — state carries
    between batches."""
    from pulfa_sausage_factory_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    staged = str(tmp_path / "ev_two_files")
    # two parquet files → file-source processes them as discovery order;
    # with availableNow both arrive, but per-key state still accumulates
    ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(staged)
    ev.filter(F.col("user_id") % 2 == 1).coalesce(1).write.mode("append").parquet(staged)

    stream = spark.readStream.schema(
        spark.read.parquet(staged).schema
    ).option("maxFilesPerTrigger", 1).parquet(staged)
    out = stateful.running_user_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode appends a row per touched batch; the final update per user
    # (max n_events) is the lifetime total
    final = {}
    for r in spark.sql("select * from running_stats").collect():
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, round(r.sum_value, 4))
    want = {
        r.user_id: (r.n_events, round(r.sum_value, 4))
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .collect()
    }
    assert {u: v[0] for u, v in final.items()} == {u: v[0] for u, v in want.items()}


def test_stateful_streaming_dedup_first_seen(spark, tmp_path):
    """applyInPandasWithState dedup: each key emitted once (first batch it
    appears in), duplicates only counted."""
    from pulfa_sausage_factory_spark.streaming import stateful
    import datetime

    rows = [
        (datetime.datetime(2024, 1, 1, h, 0, 0), "k%d" % (i % 3))
        for i, h in enumerate(range(10))
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    staged = str(tmp_path / "dedup_in")
    df.coalesce(1).write.parquet(staged)

    stream = spark.readStream.schema(df.schema).parquet(staged)
    out = stateful.streaming_dedup(stream, key_col="event_type", ts_col="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from dedup_test").collect()
    # 3 distinct keys → exactly 3 first-seen emissions; 10 rows - 3 = 7 suppressed
    assert len(got) == 3
    assert sum(r.n_suppressed for r in got) == 7


def test_streaming_sliding_matches_batch(spark, sf_dir, tmp_path):
    """Streaming hopping windows produce the same (window, type, count)
    rows as the batch sliding operator."""
    ev = load_table(spark, sf_dir, "events")
    staged = str(tmp_path / "events_sliding")
    ev.write.parquet(staged)

    stream = spark.readStream.schema(ev.schema).parquet(staged)
    agg = windows.sliding(stream, "1 hour", "30 minutes", watermark="0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.sql("select * from sliding_test").collect()
    }
    want = {
        (str(r.window_start), r.event_type): r.n_events
        for r in ev_ops.sliding_counts(ev, "1 hour", "30 minutes").collect()
    }
    assert got == want


def test_continuous_rollup_refreshes_only_touched_hours(spark, sf_dir, tmp_path):
    """Hypertable-style continuous aggregate: a delta refresh recomputes the
    delta's hour partitions from the base table and leaves every other
    partition byte-untouched."""
    import os

    from pyspark.sql import functions as F

    from pulfa_sausage_factory_spark.io import load_table
    from pulfa_sausage_factory_spark.streaming.rollup import (
        hourly_rollup,
        refresh_rollup,
    )

    out = str(tmp_path / "rollup")
    ev = load_table(spark, sf_dir, "events")

    # initial materialization from a stale base (half the events)
    stale = ev.filter(F.col("event_id") % 2 == 0)
    n0 = refresh_rollup(stale, stale, out)
    assert n0 > 1

    def mtimes():
        out_m = {}
        for d in os.listdir(out):
            if d.startswith("hour_key="):
                full = os.path.join(out, d)
                out_m[d] = max(os.path.getmtime(os.path.join(full, f))
                               for f in os.listdir(full))
        return out_m

    before = mtimes()

    # late/new data arrives for ONE hour; base is now complete
    one_hour = ev.select(F.date_trunc("hour", "ts").alias("h")).distinct().limit(1)
    hour = one_hour.collect()[0].h
    delta = ev.filter((F.date_trunc("hour", "ts") == hour) & (F.col("event_id") % 2 == 1))
    assert delta.count() > 0
    assert refresh_rollup(ev, delta, out) == 1

    after = mtimes()
    hour_key = "hour_key=" + hour.strftime("%Y-%m-%d-%H")
    changed = {k for k in after if after[k] != before.get(k)}
    assert changed == {hour_key}  # only the touched partition rewritten

    # the refreshed hour now reflects the FULL base; untouched hours still
    # carry the stale aggregate (they were not part of the delta)
    got = spark.read.parquet(out)
    want_touched = (
        hourly_rollup(ev.filter(F.date_trunc("hour", "ts") == hour))
        .drop("hour_key")
        .collect()
    )
    got_touched = (
        got.filter(F.col("hour_key") == hour.strftime("%Y-%m-%d-%H"))
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect()
    )
    key = lambda r: (r.window_start, r.event_type)
    assert sorted(map(tuple, got_touched), key=str) == sorted(
        map(tuple, want_touched), key=str
    )


def test_transform_with_state_twin_matches_batch(spark, sf_dir, tmp_path):
    """transformWithStateInPandas (Spark-4-native StatefulProcessor): the
    lifetime per-user totals must equal the batch groupBy — same semantics
    as the applyInPandasWithState twin, new state API + RocksDB store."""
    import pytest

    from pulfa_sausage_factory_spark.streaming import stateful

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    staged = str(tmp_path / "ev_tws")
    ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(staged)
    ev.filter(F.col("user_id") % 2 == 1).coalesce(1).write.mode("append").parquet(staged)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = spark.readStream.schema(
            spark.read.parquet(staged).schema
        ).option("maxFilesPerTrigger", 1).parquet(staged)
        out = stateful.running_user_stats_tws(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("running_stats_tws")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    except Exception as exc:  # pragma: no cover - environment-dependent
        # principled skip, PINNED to its actual cause: the TWS
        # driver<->worker channel needs the protobuf python package
        # (missing/broken in this container, no network to install it).
        # The skip self-heals — if protobuf imports cleanly, a failure
        # here is a REAL bug and must fail the suite, not skip.
        try:
            from google.protobuf import descriptor  # noqa: F401
        except ImportError as pb_exc:
            pytest.skip(
                "transformWithState unavailable: protobuf import failed "
                f"({pb_exc}) — query error: {str(exc)[:200]}"
            )
        raise
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    final = {}
    for r in spark.sql("select * from running_stats_tws").collect():
        if r.user_id not in final or r.n_events > final[r.user_id]:
            final[r.user_id] = r.n_events
    want = {
        r.user_id: r.n_events
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert final == want


def test_publish_journal_completes_ep3_round_trip(spark, tmp_path):
    # EP3's post-processing commit (reference bin/batch.sh:34-37: svn ci of
    # rewritten EADs + new METS, before the watermark touch at :39) — the
    # engine analog journals which outputs each run published, keyed by
    # run id, with svn-like modified-only semantics and crash-safe replay.
    jdir = str(tmp_path / "journal")
    outs = spark.createDataFrame(
        [("/mets/a.xml", "d1"), ("/mets/b.xml", "d2"), ("/eads/e.xml", "d3")],
        "path string, digest string",
    )

    # nothing journaled yet
    assert incremental.published_manifest(spark, jdir) is None

    # run 1 commits everything
    rep = incremental.journal_publish(spark, outs, jdir, run_id=1)
    assert rep == {"published": 3, "unchanged": 0, "run_id": 1}

    # run 2 re-emits identical outputs → no-op commit (svn ci of an
    # unmodified working copy)
    rep = incremental.journal_publish(spark, outs, jdir, run_id=2)
    assert rep == {"published": 0, "unchanged": 3, "run_id": 2}

    # run 3: one file changed content (same path, new digest), one new file
    outs3 = spark.createDataFrame(
        [("/mets/a.xml", "d1-v2"), ("/mets/c.xml", "d9")],
        "path string, digest string",
    )
    rep = incremental.journal_publish(spark, outs3, jdir, run_id=3)
    assert rep == {"published": 2, "unchanged": 0, "run_id": 3}

    man = incremental.published_manifest(spark, jdir)
    got = {(r.path, r.digest, r.run_id) for r in man.collect()}
    assert got == {
        ("/mets/a.xml", "d1", 1), ("/mets/b.xml", "d2", 1),
        ("/eads/e.xml", "d3", 1),
        ("/mets/a.xml", "d1-v2", 3), ("/mets/c.xml", "d9", 3),
    }

    # at-least-once replay: rerunning run 3 rewrites its own partition to
    # the same state (decides against the PRE-run journal, not its own
    # output) — no duplicates, same manifest
    rep = incremental.journal_publish(spark, outs3, jdir, run_id=3)
    assert rep == {"published": 2, "unchanged": 0, "run_id": 3}
    again = {
        (r.path, r.digest, r.run_id)
        for r in incremental.published_manifest(spark, jdir).collect()
    }
    assert again == got

    # run 4 REVERTS a.xml to its run-1 content: svn compares against HEAD
    # (the path's latest digest, d1-v2), so a revert IS a commit — the
    # manifest's newest entry for the path must say d1 again, or auditors
    # reconstruct d1-v2 as current. (Round-6 fix: an anti-join against ALL
    # historical (path, digest) pairs would classify this 'unchanged'.)
    outs4 = spark.createDataFrame(
        [("/mets/a.xml", "d1"), ("/mets/c.xml", "d9")],
        "path string, digest string",
    )
    rep = incremental.journal_publish(spark, outs4, jdir, run_id=4)
    # c.xml still at HEAD
    assert rep == {"published": 1, "unchanged": 1, "run_id": 4}
    man4 = incremental.published_manifest(spark, jdir)
    want4 = got | {("/mets/a.xml", "d1", 4)}
    assert {(r.path, r.digest, r.run_id) for r in man4.collect()} == want4

    # replaying an OLD run id after later runs landed must reproduce that
    # run's original decision bit-for-bit (prior = runs STRICTLY before
    # the replayed id, not "everything but itself") — otherwise the
    # replay would compare against run 4's HEAD and rewrite run 3's
    # partition with rows it never contained
    rep = incremental.journal_publish(spark, outs3, jdir, run_id=3)
    assert rep == {"published": 2, "unchanged": 0, "run_id": 3}
    man = incremental.published_manifest(spark, jdir)
    assert {(r.path, r.digest, r.run_id) for r in man.collect()} == want4

    # run_id=None auto-assigns the next monotone id (max ATTEMPTED + 1,
    # round 9) — the journal enforces the monotonicity its replay
    # semantics depend on instead of trusting every caller's counter
    rep = incremental.journal_publish(spark, outs4, jdir)
    assert rep == {"published": 0, "unchanged": 2, "run_id": 5}

    # at-least-once redelivery of a NO-OP batch: run 2 journaled zero rows
    # (its empty run_id=2 partition is the only trace) — a replay must
    # idempotently no-op against run 2's original prior (run 1's
    # manifest), not be refused as an id reuse (round-7 ADVICE fix:
    # replays validate against ATTEMPTED runs — partition dirs — not
    # committed rows)
    rep = incremental.journal_publish(spark, outs, jdir, run_id=2)
    assert rep == {"published": 0, "unchanged": 3, "run_id": 2}
    man = incremental.published_manifest(spark, jdir)
    assert {(r.path, r.digest, r.run_id) for r in man.collect()} == want4

    # a reused-but-never-ATTEMPTED id below HEAD stays refused: no
    # partition dir ever existed for it, so it is not a replay — deciding
    # against a partial prior would silently corrupt audit history
    import pytest as _pytest

    with _pytest.raises(ValueError, match="neither a new run"):
        incremental.journal_publish(spark, outs4, jdir, run_id=0)


def test_publish_journal_accepts_run_zero_on_fresh_journal(spark, tmp_path):
    # streaming batch ids start at 0: a fresh stream's FIRST foreachBatch
    # delivery must journal under its own numbering (the round-6
    # validation refused it — max(seen, default=0) made 0 <= max_run)
    jdir = str(tmp_path / "journal0")
    outs = spark.createDataFrame(
        [("/mets/a.xml", "d1")], "path string, digest string"
    )
    rep = incremental.journal_publish(spark, outs, jdir, run_id=0)
    assert rep == {"published": 1, "unchanged": 0, "run_id": 0}
    # and its redelivery replays idempotently
    rep = incremental.journal_publish(spark, outs, jdir, run_id=0)
    assert rep == {"published": 1, "unchanged": 0, "run_id": 0}
    man = incremental.published_manifest(spark, jdir)
    assert {(r.path, r.digest, r.run_id) for r in man.collect()} == {
        ("/mets/a.xml", "d1", 0)
    }
    # auto-assign continues above it
    rep = incremental.journal_publish(spark, outs, jdir)
    assert rep == {"published": 0, "unchanged": 1, "run_id": 1}
    # negative ids are nonsense (and -1 is the horizon sentinel) — refuse
    import pytest as _pytest

    with _pytest.raises(ValueError, match="negative"):
        incremental.journal_publish(spark, outs, jdir, run_id=-1)


def test_compact_journal_bounds_reads_and_preserves_head(spark, tmp_path):
    # journal growth bound (round-7): fold old runs into a HEAD snapshot;
    # per-path current state and every NEW run's decision are unchanged,
    # while prior reads stop touching compacted-away run partitions.
    jdir = str(tmp_path / "journal_c")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "path string, digest string"
    )
    incremental.journal_publish(spark, mk([("/a", "d1"), ("/b", "d2")]),
                                jdir, run_id=1)
    incremental.journal_publish(spark, mk([("/a", "d1-v2")]), jdir, run_id=2)
    incremental.journal_publish(spark, mk([("/c", "d3")]), jdir, run_id=3)

    pre = {
        (r.path, r.digest, r.run_id)
        for r in incremental.published_manifest(spark, jdir).collect()
    }
    rep = incremental.compact_journal(spark, jdir, up_to_run=2)
    assert rep["horizon"] == 2
    # HEAD at run 2: /a@d1-v2 (run 2), /b@d2 (run 1) — the superseded
    # /a@d1 row is the only history dropped
    assert rep["snapshot_paths"] == 2
    post = {
        (r.path, r.digest, r.run_id)
        for r in incremental.published_manifest(spark, jdir).collect()
    }
    assert post == pre - {("/a", "d1", 1)}

    # bounded-read: the manifest now reads the snapshot + runs > horizon
    # only — no run_id=1 / run_id=2 data files
    files = incremental.published_manifest(spark, jdir).inputFiles()
    assert files and all(
        ("_head/upto=2" in f) or ("run_id=3" in f) for f in files
    )

    # decisions for new runs are identical to the uncompacted journal:
    # /b reverting content vs HEAD d2 → commit; /c at HEAD d3 → no-op
    rep = incremental.journal_publish(
        spark, mk([("/b", "d2"), ("/c", "d3")]), jdir, run_id=4
    )
    assert rep == {"published": 0, "unchanged": 2, "run_id": 4}
    rep = incremental.journal_publish(
        spark, mk([("/b", "d2-v2"), ("/c", "d3")]), jdir, run_id=5
    )
    assert rep == {"published": 1, "unchanged": 1, "run_id": 5}

    # replay ABOVE the horizon still works (prior = snapshot + runs in
    # (horizon, id)); replay AT/BELOW it is refused loudly — its original
    # prior no longer exists
    rep = incremental.journal_publish(spark, mk([("/c", "d3")]), jdir,
                                      run_id=3)
    assert rep == {"published": 1, "unchanged": 0, "run_id": 3}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compaction horizon"):
        incremental.journal_publish(spark, mk([("/a", "d1")]), jdir,
                                    run_id=2)

    # compacting everything: manifest collapses to pure HEAD, auto-assign
    # continues above the horizon
    rep = incremental.compact_journal(spark, jdir)
    assert rep["horizon"] == 5
    head = {
        (r.path, r.digest)
        for r in incremental.published_manifest(spark, jdir).collect()
    }
    assert head == {("/a", "d1-v2"), ("/b", "d2-v2"), ("/c", "d3")}
    rep = incremental.journal_publish(spark, mk([("/a", "d1-v2")]), jdir)
    assert rep == {"published": 0, "unchanged": 1, "run_id": 6}
    # re-compaction with nothing new is a no-op
    assert incremental.compact_journal(spark, jdir)["snapshot_paths"] == 0


def test_compact_journal_never_folds_past_a_killed_run(spark, tmp_path):
    # round-8: a KILLED run (attempted dir, no job-commit marker — NOT a
    # committed no-op, which has the marker and zero rows) caps the fold
    # below its id: folding past it would delete the dir and refuse the
    # run's at-least-once redelivery as below-horizon, losing its rows.
    import os

    import pytest as _pytest

    jdir = str(tmp_path / "journal_k")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "path string, digest string"
    )
    incremental.journal_publish(spark, mk([("/a", "d1")]), jdir, run_id=1)
    incremental.journal_publish(spark, mk([("/b", "d2")]), jdir, run_id=2)
    os.makedirs(f"{jdir}/run_id=3")  # the killed run-3 write

    rep = incremental.compact_journal(spark, jdir)
    assert rep["pending"] == [3] and rep["horizon"] == 2
    # an explicit fold spanning the hole is refused loudly
    with _pytest.raises(ValueError, match="killed run"):
        incremental.compact_journal(spark, jdir, up_to_run=3)

    # the redelivery of run 3 still replays (attempted, above horizon)...
    rep3 = incremental.journal_publish(spark, mk([("/c", "d3")]), jdir,
                                       run_id=3)
    assert rep3 == {"published": 1, "unchanged": 0, "run_id": 3}
    # ...and once repaired, the next compaction folds it
    rep = incremental.compact_journal(spark, jdir)
    assert rep["pending"] == [] and rep["horizon"] == 3
    manifest = {
        (r.path, r.digest)
        for r in incremental.published_manifest(spark, jdir).collect()
    }
    assert manifest == {("/a", "d1"), ("/b", "d2"), ("/c", "d3")}


def test_partial_journal_snapshot_is_not_adopted(spark, tmp_path):
    # round-8 ADVICE: on object stores fsutil.rename degrades to
    # copy+delete — a crash mid-copy leaves a PARTIAL _head/upto=N dir.
    # Horizon validity keys on the marker created strictly after the
    # rename (statedir.write_snapshot), so a partial snapshot is ignored
    # — the original run dirs keep serving reads instead of being
    # excluded as debris against a snapshot missing their rows.
    import os
    import shutil

    jdir = str(tmp_path / "journal_p")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "path string, digest string"
    )
    incremental.journal_publish(spark, mk([("/a", "d1")]), jdir, run_id=1)
    incremental.journal_publish(spark, mk([("/b", "d2")]), jdir, run_id=2)
    assert incremental.compact_journal(spark, jdir, up_to_run=1)["horizon"] == 1

    # fabricate the crashed copy of a would-be upto=2 snapshot: data
    # files present (partially copied), post-rename marker never created
    shutil.copytree(f"{jdir}/_head/upto=1", f"{jdir}/_head/upto=2")
    os.remove(f"{jdir}/_head/upto=2/_SUCCESS")

    # the partial snapshot is NOT the horizon; run 2 still serves
    assert incremental.JOURNAL_LOG.view(spark, jdir).horizon == 1
    manifest = {
        (r.path, r.digest)
        for r in incremental.published_manifest(spark, jdir).collect()
    }
    assert manifest == {("/a", "d1"), ("/b", "d2")}

    # the next compaction replaces the debris with a REAL snapshot
    rep = incremental.compact_journal(spark, jdir)
    assert rep["horizon"] == 2
    assert incremental.JOURNAL_LOG.view(spark, jdir).horizon == 2
    manifest2 = {
        (r.path, r.digest)
        for r in incremental.published_manifest(spark, jdir).collect()
    }
    assert manifest2 == {("/a", "d1"), ("/b", "d2")}


def test_journal_report_surfaces_runs_horizon_and_blockers(spark, tmp_path):
    # round-12: the journal joins the observability convention — one
    # report DataFrame answering "is my journal bounded, which runs are
    # killed and blocking compaction, where is the horizon" (the other
    # three state surfaces had curation_report_df / pq_index_report /
    # ingest_state_report; the journal had driver logs).
    import os

    jdir = str(tmp_path / "journal_r")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "path string, digest string"
    )
    incremental.journal_publish(spark, mk([("/a", "d1"), ("/b", "d2")]),
                                jdir, run_id=1)
    incremental.journal_publish(spark, mk([("/a", "d1-v2")]), jdir, run_id=2)
    incremental.journal_publish(spark, mk([("/c", "d3")]), jdir, run_id=3)
    os.makedirs(f"{jdir}/run_id=4")  # killed run-4 write

    rep = {r.artifact: r for r in
           incremental.journal_report(spark, jdir).collect()}
    assert rep["run_id=1"].committed and rep["run_id=1"].rows == 2
    assert rep["run_id=2"].rows == 1 and rep["run_id=3"].rows == 1
    assert not rep["run_id=4"].committed
    assert "blocks compaction" in rep["run_id=4"].detail
    assert "4" in rep["pending"].detail

    # compaction folds up to the killed run; the report shows the
    # serving snapshot (HEAD row count) and the still-pending blocker
    crep = incremental.compact_journal(spark, jdir)
    assert crep["horizon"] == 3 and crep["pending"] == [4]
    rep = {r.artifact: r for r in
           incremental.journal_report(spark, jdir).collect()}
    assert rep["_head/upto=3"].committed
    assert rep["_head/upto=3"].rows == 3  # /a@2, /b@1, /c@3
    assert "serving" in rep["_head/upto=3"].detail
    assert "run_id=1" not in rep and "run_id=2" not in rep
    assert "pending" in rep

    # a marker-less snapshot (partial object-store copy) is reported
    # uncommitted, never adopted
    os.makedirs(f"{jdir}/_head/upto=9")
    rep = {r.artifact: r for r in
           incremental.journal_report(spark, jdir).collect()}
    assert not rep["_head/upto=9"].committed
    assert "never adopted" in rep["_head/upto=9"].detail

    # the redelivery repairs run 4 → blocker gone, run row committed
    incremental.journal_publish(spark, mk([("/d", "d4")]), jdir, run_id=4)
    rep = {r.artifact: r for r in
           incremental.journal_report(spark, jdir).collect()}
    assert rep["run_id=4"].committed and rep["run_id=4"].rows == 1
    assert "pending" not in rep


def test_journal_auto_id_skips_killed_runs(spark, tmp_path, count_jobs):
    # round-9 ADVICE: auto run-id assignment must advance past every
    # ATTEMPTED run, not just committed ones — landing different rows
    # under a KILLED run's id would let that run's at-least-once
    # redelivery (a legitimate replay of the id) silently overwrite them
    # (the same rule the index WAL applies: statedir.LogView.claim).
    import os

    jdir = str(tmp_path / "journal_auto_k")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "path string, digest string"
    )
    incremental.journal_publish(spark, mk([("/a", "d1")]), jdir, run_id=1)
    os.makedirs(f"{jdir}/run_id=2")  # killed run 2: attempted, no rows

    # auto must assign 3, never reuse killed run 2's id; the id comes
    # from the run-dir listing alone, so the publish runs only the prior
    # read, the row count and the partition write
    rep, ids, jobs = count_jobs(lambda: incremental.journal_publish(
        spark, mk([("/c", "d3")]), jdir
    ))
    assert rep == {"published": 1, "unchanged": 0, "run_id": 3}
    assert len(ids) == 11, f"publish ran {len(ids)} jobs, pinned 11:\n{jobs}"

    # run 2's redelivery still replays under its own id, repairing it
    rep2 = incremental.journal_publish(spark, mk([("/b", "d2")]), jdir,
                                       run_id=2)
    assert rep2 == {"published": 1, "unchanged": 0, "run_id": 2}
    manifest = {
        (r.path, r.digest, r.run_id)
        for r in incremental.published_manifest(spark, jdir).collect()
    }
    assert manifest == {("/a", "d1", 1), ("/b", "d2", 2), ("/c", "d3", 3)}


def test_abandon_run_unblocks_journal_compaction(spark, tmp_path):
    # round-9: abandon_run is the journal's "deliberately abandon" verb —
    # refuses committed runs, deletes a killed run's dir (partial rows
    # included), and lets compact_journal advance past the hole.
    import os

    import pytest as _pytest

    jdir = str(tmp_path / "journal_ab")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "path string, digest string"
    )
    incremental.journal_publish(spark, mk([("/a", "d1")]), jdir, run_id=1)
    os.makedirs(f"{jdir}/run_id=2")  # killed run 2
    incremental.journal_publish(spark, mk([("/b", "d2")]), jdir, run_id=3)

    with _pytest.raises(ValueError, match="nothing to abandon"):
        incremental.abandon_run(spark, jdir, 7)
    with _pytest.raises(ValueError, match="COMMITTED"):
        incremental.abandon_run(spark, jdir, 1)

    assert incremental.compact_journal(spark, jdir)["pending"] == [2]
    assert incremental.abandon_run(spark, jdir, 2) == {"run_id": 2}
    rep = incremental.compact_journal(spark, jdir)
    assert rep["pending"] == [] and rep["horizon"] == 3
    manifest = {
        (r.path, r.digest)
        for r in incremental.published_manifest(spark, jdir).collect()
    }
    assert manifest == {("/a", "d1"), ("/b", "d2")}
