"""suggest_maintenance — the planner that composes the report surfaces'
cheap signals into one actionable plan frame (round 13)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
    CurationConfig,
    _ingest_batch,
)
from pulfa_sausage_factory_spark.pipelines.maintenance import (
    suggest_maintenance,
)

SCHEMA_DDL = "doc_id long, text string"


def _lines(spark, rows):
    return spark.createDataFrame(
        [(json.dumps(r),) for r in rows], "value string"
    )


def _plan(df):
    return {(r.surface, r.verb, r.urgency): r.reason for r in df.collect()}


def _docs(lo, hi, stem="survey record of the western rail line"):
    return [{"doc_id": i, "text": f"{stem} number {i} with gradients "
                                  f"and culvert measurements"}
            for i in range(lo, hi)]


def test_healthy_state_yields_empty_plan(spark, tmp_path):
    state = str(tmp_path / "state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none")
    sch = T.StructType.fromDDL(SCHEMA_DDL)
    _ingest_batch(spark, _lines(spark, _docs(0, 4)), 0, cfg, state, sch)
    plan = suggest_maintenance(spark, state, cfg)
    assert plan.columns == ["surface", "verb", "urgency", "reason"]
    assert plan.count() == 0, _plan(plan)


def test_file_growth_recommends_fold_and_cadence_downgrades(
    spark, tmp_path
):
    state = str(tmp_path / "state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none")
    sch = T.StructType.fromDDL(SCHEMA_DDL)
    for b in range(3):
        _ingest_batch(spark, _lines(spark, _docs(4 * b, 4 * b + 4)),
                      b, cfg, state, sch)

    plan = _plan(suggest_maintenance(spark, state, cfg, max_files=1))
    led = [(s, v, u) for (s, v, u) in plan
           if s == "ledger" and v == "compact_ingest_state"]
    assert led and led[0][2] in ("recommend", "urgent")
    assert "fold threshold 1" in plan[led[0]]
    # round 14: the corpus is deliberately never folded (takedown
    # granularity) — its file-growth row must NOT name the verb that
    # skips it by design (inexecutable recommendation, caught by the
    # stress end-to-end planner loop); it informs with the real remedy
    corpus_rows = [(s, v, u) for (s, v, u) in plan if s == "corpus"]
    assert corpus_rows, plan
    assert all(
        v != "compact_ingest_state" and u == "info"
        for (_s, v, u) in corpus_rows
    ), corpus_rows
    assert "per-batch by design" in plan[corpus_rows[0]]

    # with the in-pipeline cadence configured, the pipeline owns the
    # fold — the planner reports info, never a recommendation
    cad = CurationConfig(min_quality=0.0, neardup_method="none",
                         ingest_compact_max_files=1)
    plan = _plan(suggest_maintenance(spark, state, cad))
    assert not any(
        u in ("recommend", "urgent")
        for (_s, v, u) in plan if v == "compact_ingest_state"
    ), plan
    assert any(
        v == "compact_ingest_state" and u == "info"
        for (_s, v, u) in plan
    )


def test_killed_fold_swap_and_stale_lease_are_info(spark, tmp_path):
    from pulfa_sausage_factory_spark import statedir

    state = str(tmp_path / "state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none")
    sch = T.StructType.fromDDL(SCHEMA_DDL)
    _ingest_batch(spark, _lines(spark, _docs(0, 3)), 0, cfg, state, sch)
    # simulate a fold killed between its two renames: live dir gone,
    # .__old__ holds the only copy
    os.rename(f"{state}/ledger", f"{state}/ledger.__old__")
    # a crashed holder's lease record (never released)
    statedir.acquire_lease(spark, state, owner="crashed-run")

    plan = _plan(suggest_maintenance(spark, state, cfg, lease_ttl_sec=0.0))
    heal = plan.get(("ledger", "compact_ingest_state", "info"))
    assert heal is not None and ".__old__" in heal
    stale = [k for k in plan if k[0] == "_lease (state)"]
    assert stale and plan[stale[0]].startswith("lease epoch")
    # everything surfaced is informational — nothing blocks
    assert all(k[2] == "info" for k in plan), plan


def test_overlap_fps_ratio_recommends_coarsen(spark, tmp_path):
    state = str(tmp_path / "state")
    text = " ".join(
        f"w{i} gauge ballast sleeper alignment curve radius" for i in range(60)
    )
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         overlap_ledger=True, overlap_sample_mod=1)
    sch = T.StructType.fromDDL(SCHEMA_DDL)
    docs = [{"doc_id": i, "text": f"{text} tail marker {i}"}
            for i in range(3)]
    _ingest_batch(spark, _lines(spark, docs), 0, cfg, state, sch)

    plan = _plan(suggest_maintenance(spark, state, cfg))
    rec = plan.get(("fps", "coarsen_overlap_mod", "recommend"))
    assert rec is not None and "ledger docs" in rec

    # the auto-coarsen cadence owns it → info naming the cadence
    cad = CurationConfig(min_quality=0.0, neardup_method="none",
                         overlap_ledger=True, overlap_sample_mod="auto",
                         overlap_coarsen_above_rows=10)
    plan = _plan(suggest_maintenance(spark, state, cad))
    info = plan.get(("fps", "coarsen_overlap_mod", "info"))
    assert info is not None and "overlap_coarsen_above_rows" in info


def test_vestigial_ledger_bloom_dir_is_one_info_row(spark, tmp_path):
    # a state dir written by a deployment that ran the removed Bloom
    # sidecar still holds ledger_bloom/: the planner names it once as
    # deletable; fsck, the report and ingest ignore it
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        check_ingest_state,
        ingest_state_report,
    )

    cfg = CurationConfig(min_quality=0.0, neardup_method="none")
    sch = T.StructType.fromDDL(SCHEMA_DDL)
    states = {}
    for name in ("vestigial", "twin"):
        states[name] = str(tmp_path / name)
        _ingest_batch(spark, _lines(spark, _docs(0, 4)), 0, cfg,
                      states[name], sch)
    side = f"{states['vestigial']}/ledger_bloom/bits/epoch=0"
    os.makedirs(side)
    with open(f"{side}/bits.bin", "wb") as fh:
        fh.write(b"\x00" * 64)

    plan = suggest_maintenance(spark, states["vestigial"], cfg).collect()
    assert [tuple(r) for r in plan] == [(
        "ledger_bloom", "delete ledger_bloom/", "info",
        "vestigial sidecar of the removed Bloom feature; nothing reads it",
    )]
    fsck = check_ingest_state(spark, states["vestigial"], cfg).collect()
    assert not [r for r in fsck if r.status in ("fail", "warn")], fsck
    assert "ledger_bloom" not in {
        r.artifact
        for r in ingest_state_report(spark, states["vestigial"]).collect()
    }

    # the next batch (a repeat of doc 1 plus fresh docs) admits the same
    # ids with or without the leftover dir
    nxt = _docs(1, 2) + _docs(4, 7)
    admitted = {}
    for name, state in states.items():
        rep = _ingest_batch(spark, _lines(spark, nxt), 1, cfg, state, sch)
        assert "ledger_bloom" not in rep
        admitted[name] = sorted(
            r.doc_id for r in spark.read.parquet(f"{state}/corpus")
            .where(F.col("batch_id") == 1).select("doc_id").collect()
        )
    assert admitted["vestigial"] == admitted["twin"] == [4, 5, 6]


def test_index_wal_pending_fold_and_staleness_signals(spark, tmp_path):
    from pulfa_sausage_factory_spark import fsutil
    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index

    fams = (
        ("river forest fox dog bank quiet green lazy jumps runs far "
         "away tonight brown quick over then into the and by").split(),
        ("archive letter aid princeton collection finding material box "
         "folder series inventory manuscript curator shelf record").split(),
        ("train engine track station signal platform carriage conductor "
         "whistle timetable junction freight diesel steam rail").split(),
        ("ocean coral reef tide wave current sail harbor anchor vessel "
         "depth marine salt spray horizon").split(),
    )

    def doc(f, i):
        w = fams[f]
        rot = w[i % len(w):] + w[:i % len(w)]
        return " ".join(rot[:14]) + f" uniq{f}x{i}"

    seed = [(f * 100 + i, doc(f, i))
            for f in range(len(fams)) for i in range(10)]
    cdf = spark.createDataFrame(seed, "vec_id long, text string").select(
        "vec_id",
        hashed_text_embedding(F.col("text"), dim=64).alias("embedding"),
    ).localCheckpoint()
    idx_path = str(tmp_path / "idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            cdf, m=8, n_codes=8, n_cells=4, iters=2, sample_fraction=1.0
        ),
        idx_path,
    )
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none",
        semantic_ledger=True, semdedup_threshold=0.99,
        semdedup_index_path=idx_path, serve_index_append=True,
    )
    state = str(tmp_path / "state")
    sch = T.StructType.fromDDL(SCHEMA_DDL)
    _ingest_batch(spark, _lines(
        spark, [{"doc_id": i, "text": doc(0, 20 + i)} for i in range(4)]
    ), 0, cfg, state, sch)
    _ingest_batch(spark, _lines(
        spark, [{"doc_id": 10 + i, "text": doc(1, 20 + i)} for i in range(4)]
    ), 1, cfg, state, sch)

    # two committed appends: fold due at threshold 2; appended fraction
    # 8/40 trips a retrain floor of 0.15
    plan = _plan(suggest_maintenance(spark, state, cfg,
                                     index_compact_after=2,
                                     retrain_fraction=0.15))
    fold = plan.get(("index_wal", "compact_pq_index", "recommend"))
    assert fold is not None and "live committed WAL entries" in fold
    retrain = [k for k in plan if k[0] == "index"]
    assert retrain and "train_rows" in plan[retrain[0]]

    # an orphaned reservation (empty marker-less attempted dir) is the
    # one BLOCKED state — urgent, naming both remedies
    fsutil.mkdirs(spark, f"{idx_path}/codes_append/batch=99")
    plan = _plan(suggest_maintenance(spark, state, cfg))
    urgent = plan.get(
        ("index_wal", "replay the batch or abandon_log_entry", "urgent")
    )
    assert urgent is not None and "99" in urgent


def test_journal_killed_run_and_fold_signals(spark, tmp_path):
    from pulfa_sausage_factory_spark import fsutil
    from pulfa_sausage_factory_spark.streaming.incremental import (
        journal_publish,
    )

    jdir = str(tmp_path / "journal")
    out = spark.createDataFrame(
        [("a.xml", "d1"), ("b.xml", "d2")], "path string, digest string"
    )
    journal_publish(spark, out, jdir, run_id=0)
    journal_publish(spark, out, jdir, run_id=1)
    # a killed run: attempted dir, no commit marker
    fsutil.mkdirs(spark, f"{jdir}/run_id=5")

    state = str(tmp_path / "state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none")
    sch = T.StructType.fromDDL(SCHEMA_DDL)
    _ingest_batch(spark, _lines(spark, _docs(0, 3)), 0, cfg, state, sch)

    plan = _plan(suggest_maintenance(spark, state, cfg, journal_dir=jdir,
                                     journal_compact_after=3))
    killed = plan.get(("journal", "replay the run or abandon_run",
                       "urgent"))
    assert killed is not None and "5" in killed
    fold = plan.get(("journal", "compact_journal", "recommend"))
    assert fold is not None and "3 live run dirs" in fold


def test_removed_bloom_fpp_factor_parameter_is_rejected(spark, tmp_path):
    # the planner's Bloom saturation signal went with the sidecar, and so
    # did its tuning parameter: passing it fails instead of being ignored
    import pytest

    cfg = CurationConfig(min_quality=0.0, neardup_method="none")
    with pytest.raises(TypeError, match="bloom_fpp_factor"):
        suggest_maintenance(spark, str(tmp_path / "state"), cfg,
                            bloom_fpp_factor=2.0)
