"""check_ingest_state — the cross-surface fsck verb (round 12): every
standing invariant between corpus/ledger/derived-ledgers/idxmap/index/
retractions is verified as a report DataFrame, with planted corruptions
caught and batch-scoped checks partition-pruned to the batches asked."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
    CurationConfig,
)


def _lines(spark, rows):
    return spark.createDataFrame(
        [(json.dumps(r),) for r in rows], "value string"
    )


def _by_check(df):
    return {(r.check, r.surface): r for r in df.collect()}


def test_check_ingest_state_ledger_invariants(spark, tmp_path):
    from pulfa_sausage_factory_spark import fsutil
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        check_ingest_state,
    )

    state = str(tmp_path / "state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         neardup_ledger=True, overlap_ledger=True,
                         overlap_sample_mod=4)
    sch = T.StructType.fromDDL("doc_id long, text string")
    mk = lambda i, t: {"doc_id": i, "text": t}  # noqa: E731

    _ingest_batch(spark, _lines(spark, [
        mk(1, "the quick brown fox jumps over the lazy dog today"),
        mk(2, "totally different archival text about letters here"),
    ]), 0, cfg, state, sch)
    _ingest_batch(spark, _lines(spark, [
        mk(3, "fresh unrelated content never before seen anywhere"),
    ]), 1, cfg, state, sch)

    # clean state: every configured check ran and holds; none fail/warn
    rep = _by_check(check_ingest_state(spark, state, cfg))
    assert rep[("ledger_digest_without_corpus_row", "ledger")].status == "ok"
    assert rep[("corpus_row_without_ledger_digest", "corpus")].status == "ok"
    for sub in ("sigs", "bands", "fps"):
        row = rep[("derived_row_without_corpus_row", sub)]
        assert row.status == "ok" and row.n == 0
    # semvecs not configured → no row at all (not even skipped)
    assert ("derived_row_without_corpus_row", "semvecs") not in rep
    assert rep[("retraction_residual", "all")].status == "skipped"
    assert not any(r.status in ("fail", "warn") for r in rep.values())

    # plant: lose batch 1's corpus partition → its ledger digest is an
    # orphan and every derived surface holds evidence for a ghost
    fsutil.delete(spark, f"{state}/corpus/batch_id=1")
    rep = _by_check(check_ingest_state(spark, state, cfg))
    orphan = rep[("ledger_digest_without_corpus_row", "ledger")]
    assert orphan.status == "fail" and orphan.n == 1
    assert "sample digest:" in orphan.detail
    for sub in ("sigs", "bands", "fps"):
        row = rep[("derived_row_without_corpus_row", sub)]
        assert row.status == "fail" and row.n == 1
        assert "3" in row.detail  # the ghost doc id is named
    # the reverse direction still holds
    assert rep[("corpus_row_without_ledger_digest", "corpus")].status == "ok"

    # batch scoping: the corruption is invisible from batch 0's scope
    # (partition-pruned) and caught from batch 1's
    rep0 = _by_check(check_ingest_state(spark, state, cfg, batches=[0]))
    assert not any(r.status == "fail" for r in rep0.values())
    rep1 = _by_check(check_ingest_state(spark, state, cfg, batches=[1]))
    assert rep1[("ledger_digest_without_corpus_row", "ledger")].n == 1
    assert rep1[("derived_row_without_corpus_row", "sigs")].n == 1

    # plant the reverse hole: lose batch 0's ledger partition → admitted
    # docs exact-dedup no longer knows about, named by id
    fsutil.delete(spark, f"{state}/ledger/batch_id=0")
    rep = _by_check(check_ingest_state(spark, state, cfg))
    unled = rep[("corpus_row_without_ledger_digest", "corpus")]
    assert unled.status == "fail" and unled.n == 2


def test_check_ingest_state_index_invariants(spark, tmp_path):
    from pulfa_sausage_factory_spark import fsutil
    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        check_ingest_state,
        retract_documents,
    )

    # family-clustered vocabulary + an index trained on the same family
    # (the semantic-ledger corpus contract; see the serve-append test)
    fams = {
        0: ("river forest fox dog bank quiet green lazy jumps runs far "
            "away tonight brown quick over then into the and by").split(),
        1: ("archive letter aid princeton collection finding material box "
            "folder series inventory manuscript curator shelf record").split(),
    }

    def doc(f, i):
        w = fams[f]
        rot = w[i % len(w):] + w[:i % len(w)]
        return " ".join(rot[:14])

    corpus = [(f * 100 + i, doc(f, i)) for f in fams for i in range(10)]
    cdf = spark.createDataFrame(corpus, "vec_id long, text string").select(
        "vec_id",
        hashed_text_embedding(F.col("text"), dim=64).alias("embedding"),
    ).localCheckpoint()
    idx_path = str(tmp_path / "serve_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            cdf, m=8, n_codes=8, n_cells=4, iters=2, sample_fraction=1.0
        ),
        idx_path,
    )

    state = str(tmp_path / "state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none",
        semantic_ledger=True, semdedup_threshold=0.8,
        semdedup_index_path=idx_path, serve_index_append=True,
    )

    r0 = _ingest_batch(spark, _lines(spark, [
        {"doc_id": 900, "text": doc(0, 3)},
        {"doc_id": 901, "text": doc(1, 5)},
    ]), 0, cfg, state, sch)
    assert r0["admitted"] == 2
    r1 = _ingest_batch(spark, _lines(spark, [
        {"doc_id": 902, "text": doc(0, 12)},
    ]), 1, cfg, state, sch)
    assert r1["admitted"] == 1

    rep = _by_check(check_ingest_state(spark, state, cfg))
    assert rep[("idxmap_reservation_without_append", "idxmap")].status == "ok"
    assert rep[("admitted_doc_not_in_index", "corpus")].status == "ok"
    assert rep[("retracted_doc_still_served", "index")].status == "skipped"
    assert not any(r.status in ("fail", "warn") for r in rep.values())

    # a real takedown leaves NOTHING for fsck to flag: scrubs complete,
    # tombstone landed, and the retained retracted/ record probes clean
    out = retract_documents(spark, state, [900], cfg)
    assert out["found"] == 1 and out.get("residual", 0) == 0
    rep = _by_check(check_ingest_state(spark, state, cfg))
    assert rep[("retraction_residual", "all")].status == "ok"
    assert rep[("retracted_doc_still_served", "index")].status == "ok"
    # ...and the tombstoned id is not flagged as missing-from-index
    assert rep[("admitted_doc_not_in_index", "corpus")].status == "ok"

    # a MANUAL tombstone (operator takedown of a still-admitted doc) is
    # intentional absence, excluded before flagging
    ann_index.remove_from_pq_index(spark, idx_path, [901])
    rep = _by_check(check_ingest_state(spark, state, cfg))
    assert rep[("admitted_doc_not_in_index", "corpus")].status == "ok"

    # plant an incomplete scrub: a retracted/ record for a doc whose
    # surfaces were never scrubbed → residual WARN with the surfaces
    # named, and the id still served → FAIL
    digest = spark.read.parquet(f"{state}/corpus").filter(
        F.col("doc_id") == 902
    ).select(F.md5("text")).collect()[0][0]
    spark.createDataFrame(
        [(902, digest, 1)],
        "doc_id long, digest string, admitted_batch_id long",
    ).write.mode("overwrite").parquet(f"{state}/retracted/batch_id=9")
    rep = _by_check(check_ingest_state(spark, state, cfg))
    resid = rep[("retraction_residual", "all")]
    assert resid.status == "warn" and resid.n >= 2
    assert "corpus=1" in resid.detail and "ledger=1" in resid.detail
    served = rep[("retracted_doc_still_served", "index")]
    assert served.status == "fail" and served.n == 1
    fsutil.delete(spark, f"{state}/retracted/batch_id=9")

    # plant a killed append: strip batch 1's job-commit marker → the
    # reservation is attempted-uncommitted (replay repairs it) = WARN,
    # and its rows are not in any committed source = FAIL
    bid = r1["index_batch_id"]
    fsutil.delete(spark, f"{idx_path}/codes_append/batch={bid}/_SUCCESS")
    rep = _by_check(check_ingest_state(spark, state, cfg))
    resv = rep[("idxmap_reservation_without_append", "idxmap")]
    assert resv.status == "warn" and str(bid) in resv.detail
    missing = rep[("admitted_doc_not_in_index", "corpus")]
    assert missing.status == "fail" and missing.n == 1

    # ...now lose the dir entirely: no replay can repair it = FAIL
    fsutil.delete(spark, f"{idx_path}/codes_append/batch={bid}")
    rep = _by_check(check_ingest_state(spark, state, cfg))
    resv = rep[("idxmap_reservation_without_append", "idxmap")]
    assert resv.status == "fail" and str(bid) in resv.detail

    # post-compaction the missing-from-index finding degrades to WARN:
    # a manually tombstoned doc's rows and its tombstone fold away
    # together, metadata-indistinguishable from a lost append (901 the
    # folded manual tombstone, 902 the genuinely lost append)
    ann_index.compact_pq_index(spark, idx_path)
    rep = _by_check(check_ingest_state(spark, state, cfg))
    row = rep[("admitted_doc_not_in_index", "corpus")]
    assert row.status == "warn" and row.n == 2
    assert "metadata cannot tell" in row.detail


def test_check_ingest_state_readmitted_id_serves_legitimately(
    spark, tmp_path
):
    # round-12 review: retracted_doc_still_served keyed on the bare doc
    # id, so the documented retract-then-resubmit flow — the old record
    # deliberately retained by prune's keep-while-served rule, the id
    # re-appended and serving again — FAILED forever on a healthy
    # state. The exclusion is pair-aware: a live corpus admission in a
    # batch NO retraction record covers clears the id; a live row in a
    # recorded batch stays an incomplete-scrub FAIL (pinned in the
    # index-invariants test above).
    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        check_ingest_state,
        retract_documents,
    )

    text = (
        "expedition journal paragraph about water depth measurements "
        "and canyon sketches drawn each evening by lamplight " * 2
    )
    base_vecs = spark.createDataFrame(
        [(1000 + i, text + f" tail {i}") for i in range(8)],
        "vec_id long, text string",
    ).select(
        "vec_id",
        hashed_text_embedding(F.col("text"), dim=64).alias("embedding"),
    ).localCheckpoint()
    idx_path = str(tmp_path / "readmit_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            base_vecs, m=8, n_codes=8, n_cells=2, iters=2,
            sample_fraction=1.0,
        ),
        idx_path,
    )

    state = str(tmp_path / "readmit_state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none",
        semantic_ledger=True, semdedup_threshold=0.99,
        semdedup_index_path=idx_path, serve_index_append=True,
    )

    doc = {"doc_id": 700, "text": text + " unique sigma"}
    assert _ingest_batch(
        spark, _lines(spark, [doc]), 0, cfg, state, sch
    )["admitted"] == 1
    assert retract_documents(spark, state, [700], cfg)["residual"] == 0
    # re-submission under the same id in a later batch: admitted and
    # re-appended to the serving index (documented semantics)
    assert _ingest_batch(
        spark, _lines(spark, [doc]), 1, cfg, state, sch
    )["admitted"] == 1
    assert ann_index.load_pq_index(spark, idx_path).codes.filter(
        F.col("id") == 700
    ).count() == 1

    rep = _by_check(check_ingest_state(spark, state, cfg))
    served = rep[("retracted_doc_still_served", "index")]
    assert served.status == "ok" and served.n == 0
    assert "re-admitted" in served.detail
    assert rep[("retraction_residual", "all")].status == "ok"
    assert not any(r.status in ("fail", "warn") for r in rep.values())

    # batch-scoped to the retraction's admission batch only: the
    # re-admission in batch 1 is outside the scope and can't be ruled
    # out from partition-pruned reads → warn, never a hard fail
    rep0 = _by_check(check_ingest_state(spark, state, cfg, batches=[0]))
    served0 = rep0[("retracted_doc_still_served", "index")]
    assert served0.status == "warn" and served0.n == 1
    assert "batch-scoped" in served0.detail


def test_ingest_run_report_df_mirrors_batch_reports(spark, tmp_path):
    # round-12: the run report joins the C3 DataFrame-mirror convention
    # — one row per micro-batch, scalar counts as columns, the opt-in
    # extras (drift monitor, maintenance cadences) as summary strings.
    from pulfa_sausage_factory_spark.functions.profiling import (
        profile_table,
    )
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        ingest_run_report_df,
    )

    state = str(tmp_path / "state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    base_txt = "plain archival letter text about boxes and folders "
    ref = profile_table(
        spark.createDataFrame(
            [(i, base_txt + f"m{i}") for i in range(20)],
            "doc_id long, text string",
        ),
        exact=True,
    )
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         drift_ref_profile=ref)

    r0 = _ingest_batch(spark, _lines(spark, [
        {"doc_id": 1, "text": base_txt + "m90"},
        {"doc_id": 2, "text": base_txt + "m91"},
    ]), 0, cfg, state, sch)
    r1 = _ingest_batch(spark, _lines(spark, [
        {"doc_id": 3, "text": (base_txt * 30) + "m92"},
    ]), 1, cfg, state, sch)

    rep = ingest_run_report_df(spark, {"batches": [r0, r1]})
    rows = {r.batch_id: r for r in rep.collect()}
    assert rows[0].admitted == 2 and rows[0].dropped == 0
    assert rows[0].drift == ""  # monitor ran, clean
    assert "avg_len" in rows[1].drift  # the 30x doc moved length stats
    assert rows[0].retraction_excluded is None  # no replay guard fired
    assert rows[0].index_appended is None  # no serve-index append
    assert rows[0].maintenance == ""


def test_run_report_carries_end_of_run_maintenance_plan(spark, tmp_path):
    # round 14 (VERDICT item 6): cfg.maintenance_plan_at_end runs
    # suggest_maintenance once after the stream terminates and the run
    # report carries its rows; ingest_run_report_df mirrors them as one
    # summary row (null batch_id) in the maintenance column.
    import json as _json

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        ingest_run_report_df,
        run_incremental_curation,
    )

    work = tmp_path / "run_plan"
    landing = str(work / "landing")
    docs = [{"doc_id": i, "text": f"catalog entry {i} about survey "
                                  f"plats and township grids"}
            for i in range(6)]
    spark.createDataFrame(
        [( _json.dumps(d),) for d in docs], "value string"
    ).coalesce(1).write.mode("overwrite").text(landing)

    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         maintenance_plan_at_end=True)
    rep = run_incremental_curation(spark, landing, str(work / "state"), cfg)
    assert "maintenance_plan" in rep
    assert isinstance(rep["maintenance_plan"], list)
    for row in rep["maintenance_plan"]:
        assert set(row) == {"surface", "verb", "urgency", "reason"}

    mirror = ingest_run_report_df(spark, rep)
    summary = [r for r in mirror.collect() if r.batch_id is None]
    assert len(summary) == 1
    m = summary[0].maintenance
    assert m.startswith("plan: ")
    if rep["maintenance_plan"]:
        assert all(
            f"{p['surface']}.{p['verb']}" in m
            for p in rep["maintenance_plan"]
        )
    else:
        assert m == "plan: clean"
    # without the knob: no summary row (the r12 shape is unchanged)
    off = dict(rep)
    off.pop("maintenance_plan")
    assert all(
        r.batch_id is not None
        for r in ingest_run_report_df(spark, off).collect()
    )


def test_export_training_corpus_compacts_without_folding_state(
    spark, tmp_path
):
    # round 14: the corpus state is deliberately never folded (per-batch
    # partitions are takedown granularity), so the read-side remedy is a
    # DERIVED compacted copy — the verb the planner's corpus row names.
    import os

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        export_training_corpus,
        retract_documents,
    )

    state = str(tmp_path / "state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none")
    docs = [{"doc_id": i,
             "text": f"ledger book {i} for the canal tolls with entries "
                     f"on barge weights and lock timings"}
            for i in range(8)]
    _ingest_batch(spark, _lines(spark, docs[:4]), 0, cfg, state, sch)
    _ingest_batch(spark, _lines(spark, docs[4:]), 1, cfg, state, sch)
    retract_documents(spark, state, [3], cfg)

    out = str(tmp_path / "export")
    rep = export_training_corpus(spark, state, out, max_files=2,
                                 columns=["doc_id", "text"])
    got = spark.read.parquet(out)
    assert rep["rows"] == 7 and got.count() == 7
    assert sorted(got.columns) == ["doc_id", "text"]
    # the retracted doc is absent (export reads the scrubbed state)
    assert got.filter(F.col("doc_id") == 3).count() == 0
    # bounded file count + marker-last validity
    assert rep["files"] <= 2
    assert os.path.exists(f"{out}/_SUCCESS")
    # corpus state keeps its per-batch partition dirs (never folded)
    parts = [d for d in os.listdir(f"{state}/corpus")
             if d.startswith("batch_id=")]
    assert len(parts) == 2

    # re-export over the existing copy is a clean replace
    _ingest_batch(spark, _lines(spark, [
        {"doc_id": 20, "text": "a fresh ninth canal ledger with towpath "
                               "maintenance records and winter closures"},
    ]), 2, cfg, state, sch)
    rep2 = export_training_corpus(spark, state, out, max_files=2)
    assert rep2["rows"] == 8
    assert spark.read.parquet(out).count() == 8


#: Spark jobs of one 3-id ``retract_documents`` and of the
#: ``check_ingest_state(...).collect()`` after it on ``verb_state`` (two
#: batches, exact + MinHash ledgers): one membership query per step
#: across all surfaces, one schema inference per surface per call, one
#: query for both directions of the ledger ↔ corpus bijection
_RETRACT_JOBS = 33
_FSCK_JOBS = 21


def _doc(i):
    # 40 tokens no other doc shares: no exact or near-dup across docs
    return " ".join(f"tok{i}w{j}" for j in range(40))


@pytest.fixture(scope="module")
def verb_state(spark, tmp_path_factory):
    """A two-batch ingest state (10 docs each) with the exact digest
    ledger and the MinHash sigs/bands ledgers."""
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
    )

    state = str(tmp_path_factory.mktemp("verbs") / "state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         neardup_ledger=True)
    sch = T.StructType.fromDDL("doc_id long, text string")
    for b in (0, 1):
        rows = [{"doc_id": i, "text": _doc(i)}
                for i in range(10 * b, 10 * b + 10)]
        assert _ingest_batch(spark, _lines(spark, rows), b, cfg, state,
                             sch)["admitted"] == 10
    return state, cfg


def test_maintenance_verb_job_pins(spark, verb_state, count_jobs):
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        check_ingest_state,
        retract_documents,
    )

    state, cfg = verb_state
    rep, ids, jobs = count_jobs(
        lambda: retract_documents(spark, state, [3, 7, 15], cfg)
    )
    assert rep["found"] == 3 and rep["residual"] == 0
    assert rep["scrubbed"]["corpus"] == 3
    assert len(ids) <= _RETRACT_JOBS, (
        f"retract_documents ran {len(ids)} jobs > {_RETRACT_JOBS}:\n{jobs}"
    )
    rows, ids, jobs = count_jobs(
        lambda: check_ingest_state(spark, state, cfg).collect()
    )
    assert {r.status for r in rows} == {"ok"}
    assert len(ids) <= _FSCK_JOBS, (
        f"check_ingest_state ran {len(ids)} jobs > {_FSCK_JOBS}:\n{jobs}"
    )


def test_fused_maintenance_queries_attribute_per_surface(spark, tmp_path):
    # fsck's derived-row check and the takedown's membership probe run one
    # query across every surface; each finding and each scrub count must
    # still land on the surface it came from
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        check_ingest_state,
        compact_ingest_state,
        retract_documents,
    )

    state = str(tmp_path / "state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         neardup_ledger=True, overlap_ledger=True,
                         overlap_sample_mod=4)
    sch = T.StructType.fromDDL("doc_id long, text string")
    ingest = lambda b, ids: _ingest_batch(  # noqa: E731
        spark, _lines(spark, [{"doc_id": i, "text": _doc(i)} for i in ids]),
        b, cfg, state, sch,
    )
    ingest(0, [1, 2])
    # batch 0's ledger rows move to the batch_id=-1 fold archive; the
    # corpus is never folded and keeps corpus/batch_id=0
    compact_ingest_state(spark, state, max_files=0)
    ingest(1, [3, 4])

    # ghosts: doc 3's evidence re-keyed to ids the corpus never held —
    # two on bands, one on sigs, none on fps
    def plant(sub, key, ghost_ids):
        live = spark.read.parquet(f"{state}/{sub}/batch_id=1").filter(
            F.col(key) == 3
        )
        for g in ghost_ids:
            live.withColumn(key, F.lit(g).cast("long")).write.mode(
                "append"
            ).parquet(f"{state}/{sub}/batch_id=1")

    plant("bands", "old_id", [901, 902])
    plant("sigs", "id", [903])
    rep = _by_check(check_ingest_state(spark, state, cfg))
    bands = rep[("derived_row_without_corpus_row", "bands")]
    sigs = rep[("derived_row_without_corpus_row", "sigs")]
    assert (bands.status, bands.n) == ("fail", 2)
    assert "901" in bands.detail and "902" in bands.detail
    assert "903" not in bands.detail
    assert (sigs.status, sigs.n) == ("fail", 1)
    assert "903" in sigs.detail and "901" not in sigs.detail
    fps = rep[("derived_row_without_corpus_row", "fps")]
    assert (fps.status, fps.n, fps.detail) == ("ok", 0, "")
    others = {k: r.status for k, r in rep.items()
              if k[0] != "derived_row_without_corpus_row"}
    assert set(others.values()) <= {"ok", "skipped"}, others

    # doc 1 sits live in corpus/batch_id=0 and in the archive of every
    # ledger: the scrub counts per surface are its rows on each
    corpus = spark.read.parquet(f"{state}/corpus")
    digest = corpus.filter(F.col("doc_id") == 1).select(
        F.md5("text")
    ).collect()[0][0]
    want = {}
    for sub, cond in (("ledger", F.col("digest") == digest),
                      ("sigs", F.col("id") == 1),
                      ("bands", F.col("old_id") == 1),
                      ("fps", F.col("old_id") == 1),
                      ("corpus", F.col("doc_id") == 1)):
        parts = {r.batch_id: r["count"] for r in spark.read.parquet(
            f"{state}/{sub}").filter(cond).groupBy("batch_id").count()
            .collect()}
        assert parts == ({0: 1} if sub == "corpus" else
                         {-1: parts.get(-1)}), (sub, parts)
        want[sub] = sum(parts.values())
    out = retract_documents(spark, state, [1], cfg)
    assert out["found"] == 1
    assert out["scrubbed"] == want and list(out["scrubbed"]) == list(want)
    assert out["residual"] == 0 and "residual_by_surface" not in out
