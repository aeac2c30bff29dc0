"""End-to-end corpus curation pipeline: clean → gates → dedup → decontam →
pack → shard export, with run-report diagnostics (C1/C3 analog for the LLM
surface)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pulfa_sausage_factory_spark.io import load_table
from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
    CurationConfig,
    run_curation,
)


def test_curation_end_to_end(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # benchmark slice drawn FROM the corpus — contaminated by construction,
    # so decontamination must remove exactly these surviving ids
    bench = docs.filter(F.col("doc_id") % 100 == 7).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )

    out_dir = str(tmp_path / "corpus")
    cfg = CurationConfig(min_quality=0.0, rows_per_shard=50, out_dir=out_dir)
    report = run_curation(spark, docs, cfg, bench=bench)

    names = [s["stage"] for s in report["stages"]]
    assert names == [
        "input", "clean", "quality_gate", "exact_dedup", "neardup_dedup",
        "decontaminate", "pack",
    ]
    # monotone: no stage invents rows, drops are consistent
    rows = [s["rows"] for s in report["stages"]]
    assert all(a >= b for a, b in zip(rows, rows[1:]))
    for prev, s in zip(report["stages"], report["stages"][1:]):
        assert s["dropped"] == prev["rows"] - s["rows"]
    assert report["input_rows"] == docs.count()
    assert report["output_rows"] > 0

    # the bench docs' verbatim twins are gone from the output shards
    files = sorted(glob.glob(f"{out_dir}/*.parquet"))
    assert files and report["n_shards"] >= 1
    out_ids = set()
    total = 0
    for f in files:
        t = pq.read_table(f, columns=["doc_id", "pack_id", "n_tokens"])
        out_ids.update(t.column("doc_id").to_pylist())
        total += t.num_rows
    assert total == report["output_rows"]
    bench_sources = {r.doc_id - 1_000_000 for r in bench.collect()}
    assert not (out_ids & bench_sources)

    # decontamination actually fired (bench ⊂ corpus ⇒ overlaps existed for
    # every bench source that survived the earlier stages)
    decon = next(s for s in report["stages"] if s["stage"] == "decontaminate")
    assert decon["dropped"] > 0

    # tokens-surviving headline: positive, and consistent with the shards
    tok = 0
    for f in files:
        tok += sum(pq.read_table(f, columns=["n_tokens"]).column("n_tokens").to_pylist())
    assert report["output_tokens"] == tok > 0

    # the C3 report surface: per-stage diagnostics as a queryable frame
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        curation_report_df,
    )

    rep_df = curation_report_df(spark, report)
    assert rep_df.columns == [
        "stage_no", "stage", "rows_in", "rows_out", "dropped", "drop_pct",
        "sec", "note",
    ]
    got = {r.stage: r for r in rep_df.collect()}
    assert [r.stage for r in rep_df.orderBy("stage_no").collect()] == names
    # rows_in/rows_out/dropped reconcile with the raw stage dicts, and the
    # percentage is the removal rate relative to what entered the stage
    for s in report["stages"]:
        row = got[s["stage"]]
        assert row.rows_out == s["rows"] and row.dropped == s["dropped"]
        assert row.rows_in == s["rows"] + s["dropped"]
        if row.rows_in:
            assert abs(row.drop_pct - 100.0 * row.dropped / row.rows_in) < 0.01
        assert row.sec >= 0.0
    # an operator can answer "which gate removed the most" with one query
    worst = rep_df.orderBy(F.col("dropped").desc()).first().stage
    assert worst in names


def test_curation_is_deterministic(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").limit(200).select("doc_id", "text")
    cfg = CurationConfig(min_quality=0.2, sample_fraction=0.8)
    a = run_curation(spark, docs, cfg)
    b = run_curation(spark, docs, cfg)

    # hash gates + dedup: no RNG anywhere — identical rows/drops per
    # stage ("sec" is wall time, the one legitimately varying field)
    def strip(ss):
        return [{k: v for k, v in s.items() if k != "sec"} for s in ss]

    assert strip(a["stages"]) == strip(b["stages"])


def test_curation_classifier_gate(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(100).select("doc_id", "text")
    # all-negative weights + positive threshold → classifier rejects all
    cfg = CurationConfig(
        min_quality=0.0,
        clf_weights={i: -1.0 for i in range(16)},
        clf_dim=16,
        clf_min_logit=0.5,
    )
    report = run_curation(spark, docs, cfg)
    gate = next(s for s in report["stages"] if s["stage"] == "quality_gate")
    assert gate["rows"] == 0
    assert report["output_rows"] == 0


def test_curation_language_gate(spark):
    # allowed_langs keeps exactly the docs langid_expr labels English: the
    # batch DAG's quality-gate stage and the predicate the ingest runs
    # (_gate_condition) agree, on the configured text column
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _gate_condition,
    )

    docs = spark.createDataFrame([
        (1, "the river and the forest of the north is quiet in winter"),
        (2, "el rio y la casa de los abuelos que viven en el campo"),
        (3, "a letter to the curator of the archive with the box list"),
        (4, "la carta de las islas que llegan por el mar del sur"),
    ], "doc_id long, body string")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         allowed_langs=("en",), text_col="body")
    rep = run_curation(spark, docs, cfg)
    gate = next(s for s in rep["stages"] if s["stage"] == "quality_gate")
    assert (gate["rows"], gate["dropped"]) == (2, 2)
    kept = docs.filter(_gate_condition(cfg, "body")).collect()
    assert sorted(r.doc_id for r in kept) == [1, 3]


def test_gate_refuses_weights_of_another_hasher(spark):
    # the classifier gate hashes with md5; weights trained with xxhash64
    # would read permuted buckets, so building the gate refuses them
    from pulfa_sausage_factory_spark.functions.lm import HashedWeights
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _gate_condition,
    )

    cfg = CurationConfig(
        clf_weights=HashedWeights({0: 1.0}, hasher="xxhash64", dim=64)
    )
    with pytest.raises(ValueError, match="hasher='xxhash64'"):
        _gate_condition(cfg, "text")


def test_curation_neardup_method_knob(spark, sf_dir):
    import pytest

    docs = load_table(spark, sf_dir, "documents").limit(150).select("doc_id", "text")
    by_method = {}
    for m in ("minhash", "simhash", "none"):
        rep = run_curation(
            spark, docs, CurationConfig(min_quality=0.0, neardup_method=m)
        )
        names = [s["stage"] for s in rep["stages"]]
        assert ("neardup_dedup" in names) == (m != "none")
        by_method[m] = rep["output_rows"]
    # skipping near-dup keeps at least as many rows as running it
    assert by_method["none"] >= max(by_method["minhash"], by_method["simhash"])
    with pytest.raises(ValueError, match="neardup_method"):
        run_curation(
            spark, docs, CurationConfig(neardup_method="bogus")
        )


def test_curation_gopher_substring_and_chunk_stages(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cfg = CurationConfig(
        min_quality=0.0,
        use_gopher_gates=True,
        gopher_overrides={"min_words": 5, "min_stopword_hits": 0,
                          "min_alpha_word_frac": 0.0},
        neardup_method="none",
        substring_dedup_k=8,
        chunk_max_tokens=64,
        chunk_overlap=8,
    )
    report = run_curation(spark, docs, cfg)
    names = [s["stage"] for s in report["stages"]]
    assert "substring_dedup" in names and "chunk" in names
    by = {s["stage"]: s for s in report["stages"]}
    # chunking splits long docs: at least as many chunks as surviving docs
    assert by["chunk"]["rows"] >= by["substring_dedup"]["rows"] > 0
    # gopher gate actually dropped something on this corpus
    assert by["quality_gate"]["rows"] <= by["clean"]["rows"]


def test_curation_chunk_carries_extra_cols(spark):
    rows = [(i, "tok " * 300 + "end", f"src{i % 2}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    cfg = CurationConfig(
        min_quality=0.0,
        neardup_method="none",
        chunk_max_tokens=50,
        chunk_overlap=5,
        extra_cols=("source",),
    )
    report = run_curation(spark, docs, cfg)
    by = {s["stage"]: s for s in report["stages"]}
    assert by["chunk"]["rows"] > 6  # long docs actually split


def test_curation_semantic_neardup_stage(spark, sf_dir):
    import pytest

    docs = load_table(spark, sf_dir, "documents").limit(120).select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    # embeddings key on vec_id == doc_id for the fixture's first docs; plant
    # a guaranteed near-copy pair inside the corpus so the stage must prune
    rows = emb.limit(120).select("vec_id", "embedding").collect()
    planted = []
    for r in rows[:10]:
        v = [float(x) * 1.01 for x in r.embedding]
        v[0] += 0.05
        planted.append((10_000 + r.vec_id, v))
    emb_all = emb.limit(120).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("embedding")
    ).union(spark.createDataFrame(planted, "vec_id long, embedding array<double>"))
    docs_all = docs.union(
        docs.limit(10).select((F.col("doc_id") + 10_000).alias("doc_id"),
                              F.concat(F.lit("copy "), F.col("text")).alias("text"))
    )

    with pytest.raises(ValueError, match="embeddings"):
        run_curation(spark, docs_all, CurationConfig(neardup_method="semantic"))

    rep = run_curation(
        spark, docs_all,
        CurationConfig(min_quality=0.0, neardup_method="semantic",
                       semdedup_threshold=0.95, semdedup_cells=8),
        embeddings=emb_all,
    )
    by = {s["stage"]: s for s in rep["stages"]}
    # each planted (orig, copy) embedding pair loses exactly one member
    assert by["neardup_dedup"]["dropped"] >= 10


def test_curation_semdedup_reuses_prebuilt_centroids(spark, sf_dir, tmp_path):
    # round-7: repeated curation runs reuse a trained/persisted centroid
    # artifact instead of re-deriving cells per run — via a direct
    # DataFrame (semdedup_centroids=) or a persisted IVF index
    # (cfg.semdedup_index_path, validated load). Identical centroids ⇒
    # identical stage decisions, and the report names the artifact used.
    import pytest

    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        curation_report_df,
    )

    docs = load_table(spark, sf_dir, "documents").limit(120).select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").limit(120).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    ).localCheckpoint()

    idx = ann_index.build_pq_index(
        emb, m=8, n_codes=8, n_cells=8, iters=1, sample_fraction=1.0
    )
    path = str(tmp_path / "sem_idx")
    ann_index.save_pq_index(idx, path)

    base = dict(min_quality=0.0, neardup_method="semantic",
                semdedup_threshold=0.95, semdedup_cells=8)
    rep_idx = run_curation(
        spark, docs, CurationConfig(**base, semdedup_index_path=path),
        embeddings=emb,
    )
    rep_pre = run_curation(
        spark, docs, CurationConfig(**base), embeddings=emb,
        semdedup_centroids=idx.centroids,
    )
    # same centroids through either door ⇒ bit-identical stage decisions
    strip = lambda rep: [  # noqa: E731
        {k: v for k, v in s.items() if k not in ("sec", "note")}
        for s in rep["stages"]
    ]
    assert strip(rep_idx) == strip(rep_pre)
    assert rep_idx["output_rows"] == rep_pre["output_rows"]

    # provenance lands in the queryable report
    note_idx = {
        r.stage: r.note for r in curation_report_df(spark, rep_idx).collect()
    }["neardup_dedup"]
    assert note_idx == f"centroids=index:{path}"
    note_pre = {
        r.stage: r.note for r in curation_report_df(spark, rep_pre).collect()
    }["neardup_dedup"]
    assert note_pre == "centroids=prebuilt"

    # centroids with a non-semantic method would be silently unused — refuse
    with pytest.raises(ValueError, match="silently unused"):
        run_curation(
            spark, docs,
            CurationConfig(min_quality=0.0, neardup_method="minhash",
                           semdedup_index_path=path),
        )
    # ...but a semantic-ledger config carries the path FOR the incremental
    # API (which requires it while ignoring neardup_method), so sharing
    # one config with the batch API must not trip the unused-artifact
    # refusal (round-8 ADVICE fix)
    rep_shared = run_curation(
        spark, docs,
        CurationConfig(min_quality=0.0, neardup_method="minhash",
                       semdedup_index_path=path, semantic_ledger=True),
    )
    assert rep_shared["output_rows"] > 0
    # two centroid sources at once is ambiguous — refuse
    with pytest.raises(ValueError, match="not both"):
        run_curation(
            spark, docs, CurationConfig(**base, semdedup_index_path=path),
            embeddings=emb, semdedup_centroids=idx.centroids,
        )
    # a FLAT index has no coarse centroids to reuse — refuse loudly
    flat = ann_index.build_pq_index(
        emb, m=8, n_codes=8, n_cells=None, iters=1, sample_fraction=1.0
    )
    flat_path = str(tmp_path / "flat_idx")
    ann_index.save_pq_index(flat, flat_path)
    with pytest.raises(ValueError, match="FLAT"):
        run_curation(
            spark, docs,
            CurationConfig(**base, semdedup_index_path=flat_path),
            embeddings=emb,
        )


def test_curation_dsir_stage(spark, sf_dir):
    import pytest

    docs = load_table(spark, sf_dir, "documents").limit(150).select("doc_id", "text")
    target = docs.limit(25)

    with pytest.raises(ValueError, match="target"):
        run_curation(
            spark, docs, CurationConfig(neardup_method="none", dsir_k=10)
        )

    rep = run_curation(
        spark, docs,
        CurationConfig(min_quality=0.0, neardup_method="none",
                       dsir_k=40, dsir_dim=2048),
        target=target,
    )
    names = [s["stage"] for s in rep["stages"]]
    assert "dsir_select" in names
    by = {s["stage"]: s for s in rep["stages"]}
    assert by["dsir_select"]["rows"] == 40
    assert rep["output_rows"] == 40


def test_incremental_curation_ingest(spark, tmp_path):
    import json

    import pyarrow.parquet as pq_  # noqa: F401

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        run_incremental_curation,
    )

    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    state = str(tmp_path / "state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none")

    def jl(doc_id, text):
        return json.dumps({"doc_id": doc_id, "text": text})

    (in_dir / "batch1.jsonl").write_text(
        "\n".join(
            [jl(1, "alpha bravo charlie"), jl(2, "delta echo foxtrot"),
             jl(3, "golf hotel india"), "{this is not json",
             jl(4, "juliet kilo lima"), jl(5, "mike november oscar")]
        )
    )
    rep1 = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep1["total_admitted"] == 5
    assert sum(b["corrupt_lines"] for b in rep1["batches"]) == 1
    assert spark.read.parquet(rep1["corpus_dir"]).count() == 5

    # idempotent re-run: same checkpoint, no new files → nothing admitted
    rep2 = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep2["total_admitted"] == 0
    assert spark.read.parquet(rep1["corpus_dir"]).count() == 5

    # batch 2: one cross-run duplicate (same text as doc 1, new id), one
    # within-batch duplicate pair, two genuinely new docs
    (in_dir / "batch2.jsonl").write_text(
        "\n".join(
            [jl(6, "papa quebec romeo"), jl(7, "alpha bravo charlie"),
             jl(8, "sierra tango uniform"), jl(9, "sierra tango uniform")]
        )
    )
    rep3 = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep3["total_admitted"] == 2  # 7 = ledger dup; 9 = in-batch dup
    corpus = spark.read.parquet(rep1["corpus_dir"])
    assert corpus.count() == 7
    ids = {r.doc_id for r in corpus.collect()}
    assert ids == {1, 2, 3, 4, 5, 6, 8}
    # the ledger holds exactly one digest per admitted text
    assert spark.read.parquet(rep1["ledger_dir"]).distinct().count() == 7


def test_incremental_curation_applies_gates(spark, tmp_path):
    import json

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        run_incremental_curation,
    )

    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    good = "the quick brown fox jumps over the lazy dog near the river bank"
    (in_dir / "b.jsonl").write_text(
        "\n".join([
            json.dumps({"doc_id": 1, "text": good}),
            json.dumps({"doc_id": 2, "text": "x"}),  # fails word-count gate
        ])
    )
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none",
        use_gopher_gates=True,
        gopher_overrides={"min_words": 5, "min_stopword_hits": 0,
                          "min_alpha_word_frac": 0.0},
    )
    rep = run_incremental_curation(spark, str(in_dir), str(tmp_path / "s"), cfg)
    assert rep["total_admitted"] == 1
    assert {r.doc_id for r in spark.read.parquet(rep["corpus_dir"]).collect()} == {1}


def test_incremental_curation_neardup_ledger(spark, tmp_path):
    import json

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        run_incremental_curation,
    )

    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    state = str(tmp_path / "state")
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none",
        neardup_ledger=True, neardup_threshold=0.5,
    )

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the quiet green forest by the river bank tonight")

    def jl(doc_id, text):
        return json.dumps({"doc_id": doc_id, "text": text})

    (in_dir / "b1.jsonl").write_text(
        "\n".join([
            jl(1, base),
            jl(2, "completely different text about archives letters and aids "
                  "from the princeton collection of finding materials today"),
            # within-batch near-copy of doc 1 (one word changed): must lose
            jl(3, base.replace("quiet", "loud")),
        ])
    )
    rep1 = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep1["total_admitted"] == 2
    ids1 = {r.doc_id for r in spark.read.parquet(rep1["corpus_dir"]).collect()}
    assert ids1 == {1, 2}

    # batch 2: a near-copy of batch-1's doc 1 (different digest — exact
    # ledger can't catch it), plus a genuinely new doc
    (in_dir / "b2.jsonl").write_text(
        "\n".join([
            jl(10, base.replace("tonight", "yesterday")),
            jl(11, "unrelated fresh content with nothing shared at all here "
                   "describing completely novel things never written before"),
        ])
    )
    rep2 = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep2["total_admitted"] == 1
    ids2 = {r.doc_id for r in spark.read.parquet(rep1["corpus_dir"]).collect()}
    assert ids2 == {1, 2, 11}


def test_incremental_curation_semantic_ledger(spark, tmp_path):
    # round-7: cross-run SEMANTIC dedup for the ingest loop — the SemDeDup
    # cosine rule across batches AND runs, with cells fixed by a persisted
    # index artifact (the round-7 reuse knob is REQUIRED here: per-batch
    # derived cells would drift between runs and silently miss pairs).
    # The index is trained on the SAME embedding family being ingested (a
    # 4-vocabulary-family corpus — the deployment shape: build the index
    # from the initial corpus, then ingest increments); measured cosines:
    # near-copies 0.89–0.92, cross-family ≤ 0.25 — threshold 0.8 splits
    # cleanly, and family cells keep near-copies co-assigned.
    import json

    import pytest

    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        run_incremental_curation,
    )

    fams = {
        0: ("river forest fox dog bank quiet green lazy jumps runs far "
            "away tonight brown quick over then into the and by").split(),
        1: ("archive letter aid princeton collection finding material box "
            "folder series inventory manuscript curator shelf record").split(),
        2: ("train engine track station signal platform carriage conductor "
            "whistle timetable junction freight diesel steam rail").split(),
        3: ("ocean coral reef tide wave current sail harbor anchor vessel "
            "depth marine salt spray horizon").split(),
    }

    def doc(f, i):
        w = fams[f]
        rot = w[i % len(w):] + w[:i % len(w)]
        return " ".join(rot[:14])

    corpus = [(f * 100 + i, doc(f, i)) for f in fams for i in range(10)]
    cdf = spark.createDataFrame(corpus, "vec_id long, text string").select(
        "vec_id", hashed_text_embedding(F.col("text"), dim=64).alias("embedding")
    ).localCheckpoint()
    idx_path = str(tmp_path / "sem_ledger_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            cdf, m=8, n_codes=8, n_cells=4, iters=2, sample_fraction=1.0
        ),
        idx_path,
    )

    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    state = str(tmp_path / "state")
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none",
        semantic_ledger=True, semdedup_threshold=0.8,
        semdedup_index_path=idx_path,
    )

    # the ledger refuses to run without the fixed-cell artifact
    with pytest.raises(ValueError, match="semdedup_index_path"):
        run_incremental_curation(
            spark, str(in_dir), str(tmp_path / "s2"),
            CurationConfig(min_quality=0.0, neardup_method="none",
                           semantic_ledger=True),
        )

    def jl(doc_id, text):
        return json.dumps({"doc_id": doc_id, "text": text})

    # batch 1: one family-0 doc, one family-1 doc — both admitted
    (in_dir / "b1.jsonl").write_text(
        "\n".join([jl(1, doc(0, 3)), jl(2, doc(1, 0))])
    )
    rep1 = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep1["total_admitted"] == 2
    ids1 = {r.doc_id for r in spark.read.parquet(rep1["corpus_dir"]).collect()}
    assert ids1 == {1, 2}

    # batch 2, separate RUN: doc 10 is a one-word near-copy of admitted
    # doc 1 (cos 0.89 — different digest, minhash OFF: only the semantic
    # ledger can drop it); doc 11 is a new family; docs 12/13 are a
    # WITHIN-batch near-copy pair (cos 0.92) in a family the ledger has
    # never seen — exactly one survives (the batch DAG's SemDeDup rule)
    near1 = doc(0, 3).replace(doc(0, 3).split()[0], "altered", 1)
    f2 = doc(2, 4)
    near2 = f2.replace(f2.split()[2], "changed", 1)
    (in_dir / "b2.jsonl").write_text(
        "\n".join([jl(10, near1), jl(11, doc(3, 5)), jl(12, f2),
                   jl(13, near2)])
    )
    rep2 = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep2["total_admitted"] == 2
    ids2 = {r.doc_id for r in spark.read.parquet(rep1["corpus_dir"]).collect()}
    assert {1, 2, 11} < ids2 and len(ids2) == 4
    assert len(ids2 & {12, 13}) == 1

    # the vector state is cell-bucketed with per-batch provenance
    sem = spark.read.parquet(str(tmp_path / "state" / "semvecs"))
    assert set(sem.columns) == {
        "cell_id", "old_id", "old_vec", "batch_id", "src_batch_id"
    }
    assert {r.old_id for r in sem.collect()} == ids2

    # full-idempotence: re-landing batch 2's exact content admits NOTHING
    # — admitted docs die on the digest ledger, the semantically-removed
    # twin dies on its admitted sibling's ledger vector, and doc 10 dies
    # on doc 1's vector again
    (in_dir / "b3.jsonl").write_text(
        "\n".join([jl(10, near1), jl(11, doc(3, 5)), jl(12, f2),
                   jl(13, near2)])
    )
    rep3 = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep3["total_admitted"] == 0
    ids3 = {r.doc_id for r in spark.read.parquet(rep1["corpus_dir"]).collect()}
    assert ids3 == ids2

    # BOTH near-dup ledgers composed in one config: the MinHash and
    # semantic legs run in sequence over the same batch frame (shared
    # write path, no column collisions), and a re-landed near-copy dies
    # regardless of which leg catches it first
    in2 = tmp_path / "landing2"
    in2.mkdir()
    (in2 / "c1.jsonl").write_text(
        "\n".join([jl(1, doc(0, 3)), jl(2, doc(1, 0))])
    )
    cfg_both = CurationConfig(
        min_quality=0.0, neardup_method="none",
        neardup_ledger=True, neardup_threshold=0.5,
        semantic_ledger=True, semdedup_threshold=0.8,
        semdedup_index_path=idx_path,
    )
    state_both = str(tmp_path / "state_both")
    rep = run_incremental_curation(spark, str(in2), state_both, cfg_both)
    assert rep["total_admitted"] == 2
    (in2 / "c2.jsonl").write_text(jl(20, near1))
    rep = run_incremental_curation(spark, str(in2), state_both, cfg_both)
    assert rep["total_admitted"] == 0


def test_compact_ingest_state(spark, tmp_path):
    import json

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        compact_ingest_state,
        run_incremental_curation,
    )

    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    state = str(tmp_path / "state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none")
    # several runs → several appended ledger files
    for b in range(3):
        (in_dir / f"b{b}.jsonl").write_text(
            "\n".join(
                json.dumps({"doc_id": b * 100 + i, "text": f"doc {b} {i} unique words here"})
                for i in range(4)
            )
        )
        run_incremental_curation(spark, str(in_dir), state, cfg)

    ledger = str(tmp_path / "state" / "ledger")
    before = {r.digest for r in spark.read.parquet(ledger).collect()}
    touched = compact_ingest_state(spark, state, max_files=1)
    assert "ledger" in touched and touched["ledger"][1] < touched["ledger"][0]
    after = {r.digest for r in spark.read.parquet(ledger).collect()}
    assert after == before  # lossless
    # below-threshold dirs are left alone
    assert compact_ingest_state(spark, state, max_files=10_000) == {}
    # the compacted ledger still dedups a re-submitted text
    (in_dir / "b9.jsonl").write_text(
        json.dumps({"doc_id": 999, "text": "doc 0 0 unique words here"})
    )
    rep = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep["total_admitted"] == 0


def test_curation_all_stages_on(spark, sf_dir, tmp_path):
    # EVERY optional stage enabled in one run: gopher + repetition +
    # classifier gates, semantic near-dup, substring dedup, decontam,
    # DSIR selection, sampling, chunking, packing, shard export — the
    # stage-composition order itself is the thing under test
    from pulfa_sausage_factory_spark.functions import lm
    from pulfa_sausage_factory_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200).select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").limit(200).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("embedding")
    )
    labeled = docs.limit(40).withColumn("label", F.lit(1)).union(
        spark.createDataFrame(
            [(900 + i, "zzz qqq spam " * 5, 0) for i in range(10)],
            "doc_id long, text string, label int",
        )
    )
    # md5 hasher REQUIRED: the curation gate runs the inlined expression
    # mode which hashes with md5 — xxhash64-trained weights would land in
    # permuted buckets and score garbage
    weights, bias = lm.train_hashed_nb_weights(labeled, dim=64, hasher="md5")
    wdict = {r.feature_id: r.w for r in weights.collect()}

    cfg = CurationConfig(
        min_quality=0.0,
        use_gopher_gates=True,
        gopher_overrides={"min_words": 3, "min_stopword_hits": 0,
                          "min_alpha_word_frac": 0.0},
        use_repetition_gates=True,
        repetition_overrides={k: 1.0 for k in (
            "top2_char_frac", "top3_char_frac", "top4_char_frac")},
        clf_weights=wdict,
        clf_dim=64,
        clf_min_logit=-bias,  # NB posterior 0.5 decision boundary
        neardup_method="semantic",
        semdedup_threshold=0.99,
        dsir_k=60,
        dsir_dim=1024,
        substring_dedup_k=10,
        chunk_max_tokens=64,
        chunk_overlap=8,
        sample_fraction=0.9,
        pack_budget=256,
        rows_per_shard=40,
        out_dir=str(tmp_path / "out"),
    )
    rep = run_curation(
        spark, docs, cfg,
        bench=docs.limit(5),
        embeddings=emb,
        target=docs.limit(30),
    )
    names = [s["stage"] for s in rep["stages"]]
    assert names == [
        "input", "clean", "quality_gate", "exact_dedup", "neardup_dedup",
        "decontaminate", "substring_dedup", "dsir_select", "sample",
        "chunk", "pack",
    ]
    assert rep["output_rows"] > 0 and rep["n_shards"] >= 1
    by = {s["stage"]: s for s in rep["stages"]}
    assert by["dsir_select"]["rows"] == 60
    assert by["decontaminate"]["dropped"] > 0  # bench ⊂ corpus fired


def test_curation_perplexity_tier_gate(spark, sf_dir):
    import pytest

    from pulfa_sausage_factory_spark.functions import lm
    from pulfa_sausage_factory_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").limit(90).select("doc_id", "text")
    bigrams, unigrams, vocab = lm.train_bigram_lm(docs)
    scores = lm.perplexity_score(docs, bigrams, unigrams, vocab)

    with pytest.raises(ValueError, match="scores"):
        run_curation(
            spark, docs,
            CurationConfig(min_quality=0.0, neardup_method="none",
                           keep_tiers=(0, 1)),
        )

    rep = run_curation(
        spark, docs,
        CurationConfig(min_quality=0.0, neardup_method="none",
                       keep_tiers=(0, 1), tier_count=3),
        scores=scores,
    )
    by = {s["stage"]: s for s in rep["stages"]}
    # head+middle of 3 equal-population tiers ≈ 2/3 of the corpus
    assert 50 <= by["ppl_tier_gate"]["rows"] <= 70
    assert by["ppl_tier_gate"]["dropped"] >= 20


def test_deterministic_shuffle_key_orders_shards(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq_

    from pulfa_sausage_factory_spark.functions.sampling import (
        deterministic_shuffle_key,
    )
    from pulfa_sausage_factory_spark.sinks.layout import write_sharded

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(500)], "doc_id long, text string"
    ).withColumn("shuffle_key", deterministic_shuffle_key("doc_id", seed=7))
    out = str(tmp_path / "shards")
    write_sharded(df, out, "shuffle_key", rows_per_shard=100)
    files = sorted(glob.glob(f"{out}/*.parquet"))
    ids = []
    for f in files:
        ids += pq_.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()
    assert sorted(ids) == list(range(500))  # lossless
    assert ids != list(range(500))  # genuinely permuted
    # reproducible: same seed → same order; different seed → different
    df2 = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(500)], "doc_id long, text string"
    )
    k7 = [r.k for r in df2.select(deterministic_shuffle_key("doc_id", 7).alias("k")).collect()]
    k7b = [r.k for r in df2.select(deterministic_shuffle_key("doc_id", 7).alias("k")).collect()]
    k8 = [r.k for r in df2.select(deterministic_shuffle_key("doc_id", 8).alias("k")).collect()]
    assert k7 == k7b and k7 != k8


def test_incremental_curation_serve_index_append(spark, tmp_path):
    # round-8: cfg.serve_index_append keeps the persisted SERVING index
    # in step with the admitted corpus — each batch's admitted vectors
    # (the semantic ledger's own embeddings) append to the index under a
    # RESERVED log id (idxmap/), so at-least-once replays are exact and
    # interleaved manual tombstones can't collide with future batches.
    import json

    import pytest
    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
    )

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
        "vec_id", hashed_text_embedding(F.col("text"), dim=64).alias("embedding")
    ).localCheckpoint()
    idx_path = str(tmp_path / "serve_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            cdf, m=8, n_codes=8, n_cells=4, iters=2, sample_fraction=1.0
        ),
        idx_path,
    )
    base_n = cdf.count()

    state = str(tmp_path / "state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none",
        semantic_ledger=True, semdedup_threshold=0.8,
        semdedup_index_path=idx_path, serve_index_append=True,
    )

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    # the feature needs the ledger (its vectors ARE what gets appended)
    with pytest.raises(ValueError, match="serve_index_append"):
        _ingest_batch(
            spark, lines([]), 0,
            CurationConfig(min_quality=0.0, neardup_method="none",
                           serve_index_append=True),
            str(tmp_path / "s2"), sch,
        )

    b0 = lines([
        {"doc_id": 900, "text": doc(0, 3)},
        {"doc_id": 901, "text": doc(1, 5)},
    ])
    r0 = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0["admitted"] == 2
    assert r0["index_batch_id"] == 1 and r0["index_appended"] == 2
    loaded = ann_index.load_pq_index(spark, idx_path)
    assert loaded.codes.count() == base_n + 2
    assert loaded.codes.filter(F.col("id").isin(900, 901)).count() == 2

    # at-least-once replay: same reserved id, identical index afterwards
    r0b = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0b["index_batch_id"] == 1 and r0b["index_appended"] == 2
    assert ann_index.load_pq_index(spark, idx_path).codes.count() == base_n + 2

    # a manual takedown between batches consumes log id 2; the next
    # ingest batch reserves PAST it (shared monotone sequence, no clash)
    ann_index.remove_from_pq_index(spark, idx_path, [900])
    # doc(0,12): rotation distance 9 from admitted doc(0,3) in the
    # 21-word family-0 vocabulary → ~7 shared words of 14, cos ≈ 0.5,
    # safely below the 0.8 ledger threshold (a family-1 rotation would
    # share 13-14 of its 15 words with admitted doc(1,5) and be dropped)
    b1 = lines([{"doc_id": 902, "text": doc(0, 12)}])
    r1 = _ingest_batch(spark, b1, 1, cfg, state, sch)
    assert r1["admitted"] == 1 and r1["index_batch_id"] == 3
    loaded = ann_index.load_pq_index(spark, idx_path)
    assert loaded.codes.count() == base_n + 2  # +902, −900
    assert loaded.codes.filter(F.col("id") == 900).count() == 0

    # the grown index serves with the coverage guard on: corpus = build
    # vectors ∪ the admitted docs' ledger embeddings
    admitted_vecs = spark.read.parquet(f"{state}/corpus").select(
        F.col("doc_id").alias("vec_id"),
        hashed_text_embedding(F.col("text"), dim=64).alias("embedding"),
    )
    served = ann_index.knn_from_index(
        loaded, cdf.unionByName(admitted_vecs), cdf.limit(2), k=3,
        shortlist=30, check_corpus=True,
    )
    got = served.groupBy("query_id").count().collect()
    assert len(got) == 2 and all(r["count"] == 3 for r in got)


def test_ingest_batch_replay_is_idempotent(spark, tmp_path):
    # foreachBatch is at-least-once: re-running a batch with the same id
    # (the crash-replay case) must decide against the PRE-batch state and
    # overwrite its own partition — identical corpus/ledger afterwards,
    # even though the first attempt already wrote the ledger
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
    )

    state = str(tmp_path / "state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         neardup_ledger=True, neardup_threshold=0.5)
    sch = T.StructType.fromDDL("doc_id long, text string")

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    b0 = lines([
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog today"},
        {"doc_id": 2, "text": "totally different archival text about letters here"},
    ])
    r0 = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0["admitted"] == 2
    snap = sorted(
        (r.doc_id, r.batch_id)
        for r in spark.read.parquet(f"{state}/corpus").collect()
    )
    ledger_snap = sorted(
        (r.digest, r.batch_id)
        for r in spark.read.parquet(f"{state}/ledger").collect()
    )

    # replay batch 0 (same id, same lines): the ledger ALREADY contains
    # these digests from the first attempt — the exclusion filter must
    # ignore them and re-admit identically
    r0b = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0b["admitted"] == 2
    assert sorted(
        (r.doc_id, r.batch_id)
        for r in spark.read.parquet(f"{state}/corpus").collect()
    ) == snap
    assert sorted(
        (r.digest, r.batch_id)
        for r in spark.read.parquet(f"{state}/ledger").collect()
    ) == ledger_snap

    # a NEW batch still dedups against batch 0 (exact + near)
    b1 = lines([
        {"doc_id": 10, "text": "the quick brown fox jumps over the lazy dog today"},
        {"doc_id": 11, "text": "the quick brown fox jumps over the lazy dog tonight"},
        {"doc_id": 12, "text": "fresh unrelated content never before seen anywhere"},
    ])
    r1 = _ingest_batch(spark, b1, 1, cfg, state, sch)
    assert r1["admitted"] == 1
    ids = {r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()}
    assert ids == {1, 2, 12}


def test_idxmap_reservation_survives_ledger_compaction(spark, tmp_path):
    # round-9 (r8 VERDICT item 2): idxmap reservation dirs were the one
    # per-batch state compact_ingest_state did not fold — unbounded
    # small-dir growth on a long-running serve-index deployment. The
    # reservation row carries ingest_batch_id as a DATA column, so rows
    # archived into batch_id=-1 still resolve: a replayed batch re-lands
    # the SAME index log id after compaction, and a new batch reserves
    # fresh.
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark import fsutil
    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _append_serve_index,
        compact_ingest_state,
    )

    words = ("river forest fox dog bank quiet green lazy jumps runs far "
             "away tonight brown quick over then into the and by").split()

    def doc(i):
        rot = words[i % len(words):] + words[:i % len(words)]
        return " ".join(rot[:14])

    cdf = spark.createDataFrame(
        [(i, doc(i)) for i in range(12)], "vec_id long, text string"
    ).select(
        "vec_id", hashed_text_embedding(F.col("text"), dim=64).alias("embedding")
    ).localCheckpoint()
    idx_path = str(tmp_path / "fold_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            cdf, m=8, n_codes=8, n_cells=4, iters=1, sample_fraction=1.0
        ),
        idx_path,
    )
    base_n = cdf.count()
    state = str(tmp_path / "fold_state")
    idxmap_dir = f"{state}/idxmap"
    cfg = CurationConfig(
        semdedup_index_path=idx_path, semantic_ledger=True,
        serve_index_append=True,
    )

    def admitted(batch_id):
        return spark.createDataFrame(
            [(900 + batch_id, doc(batch_id))], "doc_id long, text string"
        ).select(
            "doc_id",
            hashed_text_embedding(F.col("text"), dim=64).alias("_semvec"),
        ).localCheckpoint()

    reps = [
        _append_serve_index(spark, admitted(b), cfg, "doc_id", b, idxmap_dir)
        for b in range(5)
    ]
    assert [r["batch_id"] for r in reps] == [1, 2, 3, 4, 5]
    assert ann_index.load_pq_index(spark, idx_path).codes.count() == base_n + 5

    # fold: five one-file reservation dirs collapse into the archive
    before = fsutil.parquet_file_count(spark, idxmap_dir)
    done = compact_ingest_state(spark, state, max_files=2)
    assert "idxmap" in done and done["idxmap"][0] == before
    assert done["idxmap"][1] <= 2
    assert fsutil.child_names(spark, idxmap_dir) == ["batch_id=-1"]

    # a replayed batch finds its reservation in the ARCHIVE and re-lands
    # the same index log id (overwrite-repair, not a duplicate copy)
    r2 = _append_serve_index(spark, admitted(2), cfg, "doc_id", 2, idxmap_dir)
    assert r2["batch_id"] == 3
    assert ann_index.load_pq_index(spark, idx_path).codes.count() == base_n + 5

    # a NEW batch reserves past everything attempted
    r5 = _append_serve_index(spark, admitted(5), cfg, "doc_id", 5, idxmap_dir)
    assert r5["batch_id"] == 6
    assert ann_index.load_pq_index(spark, idx_path).codes.count() == base_n + 6


def test_index_compact_cadence_in_pipeline(spark, tmp_path):
    # round-9 (r8 VERDICT item 4): cfg.index_compact_after_batches folds
    # the serving index's log between ingest batches once the live entry
    # count reaches the threshold — and a replayed batch whose reserved
    # id was folded no-ops via its idxmap reservation instead of being
    # refused as below-horizon (the at-least-once contract survives
    # interleaved compaction in both directions).
    import json

    import pytest
    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark import fsutil
    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
    )

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
        "vec_id", hashed_text_embedding(F.col("text"), dim=64).alias("embedding")
    ).localCheckpoint()
    idx_path = str(tmp_path / "cadence_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            cdf, m=8, n_codes=8, n_cells=4, iters=2, sample_fraction=1.0
        ),
        idx_path,
    )
    base_n = cdf.count()

    # the cadence knob needs the pipeline-managed append it bounds
    sch = T.StructType.fromDDL("doc_id long, text string")
    with pytest.raises(ValueError, match="index_compact_after_batches"):
        _ingest_batch(
            spark,
            spark.createDataFrame([("x",)], "value string").limit(0), 0,
            CurationConfig(min_quality=0.0, neardup_method="none",
                           index_compact_after_batches=1),
            str(tmp_path / "s_bad"), sch,
        )

    state = str(tmp_path / "cadence_state")
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none",
        semantic_ledger=True, semdedup_threshold=0.8,
        semdedup_index_path=idx_path, serve_index_append=True,
        index_compact_after_batches=1,
    )

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    b0 = lines([
        {"doc_id": 900, "text": doc(0, 3)},
        {"doc_id": 901, "text": doc(1, 5)},
    ])
    r0 = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0["index_batch_id"] == 1 and r0["index_appended"] == 2
    # threshold 1 → the batch's own append triggers the fold
    assert r0["index_compacted"]["horizon"] == 1
    assert r0["index_compacted"]["pending"] == []
    assert not fsutil.exists(spark, f"{idx_path}/codes")  # superseded
    assert fsutil.exists(spark, f"{idx_path}/codes_head/upto=1/_SUCCESS")
    assert ann_index.load_pq_index(spark, idx_path).codes.count() == base_n + 2

    # the next batch reserves PAST the horizon and compacts again
    b1 = lines([{"doc_id": 902, "text": doc(0, 12)}])
    r1 = _ingest_batch(spark, b1, 1, cfg, state, sch)
    assert r1["index_batch_id"] == 2 and r1["index_appended"] == 1
    assert r1["index_compacted"]["horizon"] == 2
    loaded = ann_index.load_pq_index(spark, idx_path)
    assert loaded.codes.count() == base_n + 3

    # replay of batch 0 AFTER its index batch was folded: the idxmap
    # reservation resolves to id 1 <= horizon — the append no-ops (its
    # rows are in the snapshot) instead of raising below-horizon
    r0b = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0b["index_batch_id"] == 1 and r0b["index_appended"] == 0
    assert ann_index.load_pq_index(spark, idx_path).codes.count() == base_n + 3

    # the compacted, pipeline-grown index serves with the coverage guard
    admitted_vecs = spark.read.parquet(f"{state}/corpus").select(
        F.col("doc_id").alias("vec_id"),
        hashed_text_embedding(F.col("text"), dim=64).alias("embedding"),
    )
    served = ann_index.knn_from_index(
        loaded, cdf.unionByName(admitted_vecs), cdf.limit(2), k=3,
        shortlist=30, check_corpus=True,
    )
    got = served.groupBy("query_id").count().collect()
    assert len(got) == 2 and all(r["count"] == 3 for r in got)


def test_ingest_replay_after_ledger_compaction(spark, tmp_path):
    # round-9: own-batch exclusion keys on the src_batch_id DATA column
    # the writers stamp, so a batch replayed AFTER compact_ingest_state
    # folded its partitions into the batch_id=-1 archive decides against
    # exactly the pre-batch state. Under the old partition-based
    # exclusion the replay saw its OWN digests in the archive, admitted
    # zero docs, and overwrote its corpus partition EMPTY — silent data
    # loss, which is why compaction used to demand stop-the-world.
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark import fsutil
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        compact_ingest_state,
    )

    state = str(tmp_path / "replay_fold_state")
    # overlap ledger on too: these short docs yield ZERO sampled
    # fingerprints at the default mod — the empty-fps-state write, fold,
    # and replay paths must all be no-op-clean
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         neardup_ledger=True, neardup_threshold=0.5,
                         overlap_ledger=True)
    sch = T.StructType.fromDDL("doc_id long, text string")

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    b0 = lines([
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog today"},
        {"doc_id": 2, "text": "totally different archival text about letters here"},
    ])
    b1 = lines([
        {"doc_id": 3, "text": "fresh unrelated content never before seen anywhere"},
    ])
    assert _ingest_batch(spark, b0, 0, cfg, state, sch)["admitted"] == 2
    assert _ingest_batch(spark, b1, 1, cfg, state, sch)["admitted"] == 1

    # fold everything: per-batch dirs collapse into the archive
    done = compact_ingest_state(spark, state, max_files=0)
    assert {"ledger", "sigs", "bands", "fps"} <= set(done)
    assert fsutil.child_names(spark, f"{state}/ledger") == ["batch_id=-1"]

    # replay batch 0: its digests sit in the ARCHIVE now, but provenance
    # survived — the replay re-admits identically instead of dropping
    # everything and emptying its corpus partition
    r0b = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0b["admitted"] == 2
    ids = {r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()}
    assert ids == {1, 2, 3}

    # cross-batch dedup still works against archived state: a NEW batch
    # carrying an exact and a near duplicate of batch 0 admits neither
    b2 = lines([
        {"doc_id": 10, "text": "the quick brown fox jumps over the lazy dog today"},
        {"doc_id": 11, "text": "the quick brown fox jumps over the lazy dog tonight"},
        {"doc_id": 12, "text": "entirely novel material with its own vocabulary set"},
    ])
    r2 = _ingest_batch(spark, b2, 2, cfg, state, sch)
    assert r2["admitted"] == 1
    ids = {r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()}
    assert ids == {1, 2, 3, 12}

    # the next fold collapses the replay's duplicated ledger rows
    compact_ingest_state(spark, state, max_files=0)
    led = spark.read.parquet(f"{state}/ledger")
    assert led.count() == led.dropDuplicates().count() == 4


def test_ingest_compact_cadence_in_pipeline(spark, tmp_path):
    # round-9: cfg.ingest_compact_max_files folds the ledgers BETWEEN
    # micro-batches (safe now that state rows carry per-row provenance);
    # cross-run dedup decides against archived state, and a killed fold
    # swap heals before the next batch's state reads.
    import json

    from pulfa_sausage_factory_spark import fsutil
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        run_incremental_curation,
    )

    in_dir = tmp_path / "cadence_in"
    in_dir.mkdir()
    state = str(tmp_path / "cadence_ingest_state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         neardup_ledger=True, neardup_threshold=0.5,
                         ingest_compact_max_files=0)
    jl = lambda i, t: json.dumps({"doc_id": i, "text": t})  # noqa: E731

    (in_dir / "b1.jsonl").write_text("\n".join([
        jl(1, "the quick brown fox jumps over the lazy dog today"),
        jl(2, "totally different archival text about letters here"),
    ]))
    rep1 = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep1["total_admitted"] == 2
    assert "state_compacted" in rep1["batches"][-1]
    assert fsutil.child_names(spark, f"{state}/ledger") == ["batch_id=-1"]

    # run 2: an exact dup, a near dup, and a fresh doc — the ARCHIVED
    # state decides, then folds again
    (in_dir / "b2.jsonl").write_text("\n".join([
        jl(10, "the quick brown fox jumps over the lazy dog today"),
        jl(11, "the quick brown fox jumps over the lazy dog tonight"),
        jl(12, "fresh unrelated content never before seen anywhere"),
    ]))
    rep2 = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep2["total_admitted"] == 1
    ids = {r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()}
    assert ids == {1, 2, 12}

    # a killed fold swap (dir renamed aside, crash before the rename-in)
    # heals before the next batch reads state — an unhealed read would
    # see "no ledger" and silently re-admit the duplicate
    base = f"{state}/ledger"
    fsutil.rename(spark, base, base + ".__old__")
    (in_dir / "b3.jsonl").write_text(
        jl(20, "the quick brown fox jumps over the lazy dog today")
    )
    rep3 = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep3["total_admitted"] == 0
    ids = {r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()}
    assert ids == {1, 2, 12}


def test_read_state_half_upgraded_dir_keeps_old_rows(spark, tmp_path):
    # round-9 upgrade window: a state dir where only SOME partitions carry
    # the src_batch_id provenance column (pre-upgrade batches don't).
    # Old files read as NULL src_batch_id, and a bare `src != N` filter
    # is NULL — silently dropping every pre-upgrade row from the prior
    # and re-admitting its duplicates. The coalesce-to-partition-id
    # fallback keeps exactly the old semantics for exactly the old rows,
    # and mergeSchema makes the column surface deterministically.
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _read_state,
    )

    d = str(tmp_path / "mixed_ledger")
    # pre-round-9 partition: no provenance column
    spark.createDataFrame([("d0",)], "digest string").write.parquet(
        f"{d}/batch_id=0"
    )
    # round-9 partition: carries it
    spark.createDataFrame(
        [("d1", 1)], "digest string, src_batch_id long"
    ).write.parquet(f"{d}/batch_id=1")
    # archive row folded BEFORE the upgrade: batch_id=-1, no provenance
    spark.createDataFrame([("d2",)], "digest string").write.parquet(
        f"{d}/batch_id=-1"
    )

    assert {r.digest for r in _read_state(spark, d, 1).collect()} == {
        "d0", "d2"
    }
    assert {r.digest for r in _read_state(spark, d, 0).collect()} == {
        "d1", "d2"
    }
    # state columns stay clean of both id columns
    assert _read_state(spark, d, 0).columns == ["digest"]


def test_fold_of_half_upgraded_dir_keeps_provenance(spark, tmp_path):
    # round-10 ADVICE: compact_ingest_state's fold must read with
    # mergeSchema — in a half-upgraded dir (pre-round-9 partitions
    # without src_batch_id alongside new ones) Spark's footer sampling
    # could otherwise fold an archive WITHOUT the provenance column,
    # permanently destroying per-row provenance for the post-upgrade
    # rows; a later replay of that batch would fall back to partition
    # exclusion, see its own rows in the batch_id=-1 archive, admit
    # zero docs, and overwrite its corpus partition empty.
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _read_state,
        compact_ingest_state,
    )

    state = str(tmp_path / "mixed_fold_state")
    d = f"{state}/ledger"
    # pre-upgrade partition: no provenance column
    spark.createDataFrame([("d0",)], "digest string").write.parquet(
        f"{d}/batch_id=0"
    )
    # post-upgrade partition: carries it
    spark.createDataFrame(
        [("d1", 1)], "digest string, src_batch_id long"
    ).write.parquet(f"{d}/batch_id=1")

    done = compact_ingest_state(spark, state, max_files=0)
    assert "ledger" in done

    # the folded archive CARRIES the provenance column: d1 keeps its
    # stamp, d0 reads as NULL (its partition id is gone — pre-upgrade
    # rows folded before the upgrade completed lose partition fallback,
    # which is why _write_* stamps rows at write time from round 9 on)
    arch = spark.read.option("mergeSchema", "true").parquet(d)
    rows = {r.digest: r.src_batch_id for r in arch.collect()}
    assert rows == {"d0": None, "d1": 1}

    # and the replay decision for batch 1 still excludes exactly its own
    # rows AFTER the fold — the failure mode was admitting zero docs
    assert {r.digest for r in _read_state(spark, d, 1).collect()} == {"d0"}


def test_ingest_state_report(spark, tmp_path):
    # round-9: the observability convention (curation_report_df,
    # pq_index_report) applied to the ingest state — file/byte/batch
    # counts from the listing alone, fold-archive flag, and a loud flag
    # for a killed fold swap awaiting recovery.
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark import fsutil
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        compact_ingest_state,
        ingest_state_report,
    )

    state = str(tmp_path / "report_state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         neardup_ledger=True, neardup_threshold=0.5)
    sch = T.StructType.fromDDL("doc_id long, text string")
    jl = lambda i, t: json.dumps({"doc_id": i, "text": t})  # noqa: E731

    def lines(rows):
        return spark.createDataFrame([(r,) for r in rows], "value string")

    _ingest_batch(spark, lines([
        jl(1, "the quick brown fox jumps over the lazy dog today"),
        jl(2, "totally different archival text about letters here"),
    ]), 0, cfg, state, sch)
    _ingest_batch(spark, lines([
        jl(3, "fresh unrelated content never before seen anywhere"),
    ]), 1, cfg, state, sch)

    rep = {r.artifact: r for r in ingest_state_report(spark, state).collect()}
    assert set(rep) == {"ledger", "sigs", "bands", "corpus"}
    assert rep["ledger"].batches == 2 and not rep["ledger"].archived
    assert rep["ledger"].files > 0 and rep["ledger"].bytes > 0
    assert rep["corpus"].batches == 2

    compact_ingest_state(spark, state, max_files=0)
    rep = {r.artifact: r for r in ingest_state_report(spark, state).collect()}
    assert rep["ledger"].batches == 0 and rep["ledger"].archived
    assert rep["corpus"].batches == 2  # corpus is data, never folded

    # a killed fold swap is flagged loudly, not inferred from absence
    fsutil.rename(spark, f"{state}/ledger", f"{state}/ledger.__old__")
    rep = {r.artifact: r for r in ingest_state_report(spark, state).collect()}
    assert "killed fold swap" in rep["ledger"].detail
    # ...and the next ingest batch heals it (the round-9 recovery hook)
    _ingest_batch(spark, lines([
        jl(1, "the quick brown fox jumps over the lazy dog today"),
    ]), 2, cfg, state, sch)
    rep = {r.artifact: r for r in ingest_state_report(spark, state).collect()}
    assert rep["ledger"].detail == "" and rep["ledger"].archived

    # round-10 ADVICE: .__old__ ALONGSIDE the live dir (a fold crashed
    # between its rename-in and the old-copy delete) is superseded
    # debris, not a recovery situation — the report must not claim the
    # only copy is in .__old__ (recover_replaced_dir correctly leaves
    # both; the false alarm would otherwise persist until the next fold)
    fsutil.mkdirs(spark, f"{state}/ledger.__old__")
    rep = {r.artifact: r for r in ingest_state_report(spark, state).collect()}
    assert "stale fold debris" in rep["ledger"].detail
    assert "only copy" not in rep["ledger"].detail
    # ...and the next fold of that dir clears the debris
    compact_ingest_state(spark, state, max_files=0)
    rep = {r.artifact: r for r in ingest_state_report(spark, state).collect()}
    assert rep["ledger"].detail == ""


def test_orphan_reservation_self_heals(spark, tmp_path):
    # round-9: a crash between the reservation mkdir and the idxmap write
    # leaves an EMPTY, unmapped attempted dir no replay will ever claim —
    # it would cap index compaction below its id forever. The next fresh
    # reservation sweeps it (truly-empty + unmapped = provably this
    # pipeline's own orphan under the single-writer contract), while a
    # MAPPED empty reservation survives for its batch's replay.
    import os

    from pulfa_sausage_factory_spark import fsutil
    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _append_serve_index,
    )

    words = ("river forest fox dog bank quiet green lazy jumps runs far "
             "away tonight brown quick over then into the and by").split()

    def doc(i):
        rot = words[i % len(words):] + words[:i % len(words)]
        return " ".join(rot[:14])

    cdf = spark.createDataFrame(
        [(i, doc(i)) for i in range(12)], "vec_id long, text string"
    ).select(
        "vec_id", hashed_text_embedding(F.col("text"), dim=64).alias("embedding")
    ).localCheckpoint()
    idx_path = str(tmp_path / "orphan_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            cdf, m=8, n_codes=8, n_cells=4, iters=1, sample_fraction=1.0
        ),
        idx_path,
    )
    state = str(tmp_path / "orphan_state")
    idxmap_dir = f"{state}/idxmap"
    cfg = CurationConfig(
        semdedup_index_path=idx_path, semantic_ledger=True,
        serve_index_append=True,
    )

    def admitted(batch_id):
        return spark.createDataFrame(
            [(900 + batch_id, doc(batch_id))], "doc_id long, text string"
        ).select(
            "doc_id",
            hashed_text_embedding(F.col("text"), dim=64).alias("_semvec"),
        ).localCheckpoint()

    # the crash artifact: reservation mkdir landed, mapping write did not
    fsutil.mkdirs(spark, f"{idx_path}/codes_append/batch=1")
    assert ann_index.compact_pq_index(spark, idx_path)["pending"] == [1]

    # the next fresh reservation sweeps the orphan and takes its id
    r0 = _append_serve_index(spark, admitted(0), cfg, "doc_id", 0, idxmap_dir)
    assert r0["batch_id"] == 1 and r0["rows"] == 1
    assert ann_index.compact_pq_index(spark, idx_path)["pending"] == []

    # a MAPPED empty reservation (crash between mapping and append) is
    # NOT swept — its ingest batch replays and claims it
    rid = ann_index.next_log_id(spark, idx_path)
    fsutil.mkdirs(spark, f"{idx_path}/codes_append/batch={rid}")
    spark.createDataFrame(
        [(7, rid)], "ingest_batch_id long, index_batch_id long"
    ).write.mode("overwrite").parquet(f"{idxmap_dir}/batch_id=7")
    r8 = _append_serve_index(spark, admitted(8), cfg, "doc_id", 8, idxmap_dir)
    assert r8["batch_id"] == rid + 1  # reserved PAST the kept reservation
    assert fsutil.exists(spark, f"{idx_path}/codes_append/batch={rid}")
    # the mapped batch's replay lands its reserved id
    r7 = _append_serve_index(spark, admitted(7), cfg, "doc_id", 7, idxmap_dir)
    assert r7["batch_id"] == rid and r7["rows"] == 1


def test_idxmap_lookup_resolves_pre_upgrade_rows(spark, tmp_path):
    # round-9 upgrade window, idxmap edition: a pre-round-9 reservation
    # row carries only the partition dir's batch_id (no ingest_batch_id
    # data column) — missing it would make that batch's replay reserve
    # FRESH and append a silent duplicate copy to the serving index.
    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _append_serve_index,
    )

    words = ("river forest fox dog bank quiet green lazy jumps runs far "
             "away tonight brown quick over then into the and by").split()

    def doc(i):
        rot = words[i % len(words):] + words[:i % len(words)]
        return " ".join(rot[:14])

    cdf = spark.createDataFrame(
        [(i, doc(i)) for i in range(12)], "vec_id long, text string"
    ).select(
        "vec_id", hashed_text_embedding(F.col("text"), dim=64).alias("embedding")
    ).localCheckpoint()
    idx_path = str(tmp_path / "upg_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            cdf, m=8, n_codes=8, n_cells=4, iters=1, sample_fraction=1.0
        ),
        idx_path,
    )
    state = str(tmp_path / "upg_state")
    idxmap_dir = f"{state}/idxmap"
    cfg = CurationConfig(
        semdedup_index_path=idx_path, semantic_ledger=True,
        serve_index_append=True,
    )

    def admitted(batch_id):
        return spark.createDataFrame(
            [(900 + batch_id, doc(batch_id))], "doc_id long, text string"
        ).select(
            "doc_id",
            hashed_text_embedding(F.col("text"), dim=64).alias("_semvec"),
        ).localCheckpoint()

    # pre-round-9 reservation for ingest batch 0 → index id 1, old schema
    spark.createDataFrame([(1,)], "index_batch_id long").write.parquet(
        f"{idxmap_dir}/batch_id=0"
    )
    ann_index.append_to_pq_index(
        spark, idx_path, admitted(0).select(
            F.col("doc_id").alias("vec_id"),
            F.col("_semvec").alias("embedding"),
        ), batch_id=1,
    )
    base_n = ann_index.load_pq_index(spark, idx_path).codes.count()

    # that batch's replay resolves the OLD row and overwrite-repairs id 1
    r0 = _append_serve_index(spark, admitted(0), cfg, "doc_id", 0, idxmap_dir)
    assert r0["batch_id"] == 1
    assert ann_index.load_pq_index(spark, idx_path).codes.count() == base_n

    # a NEW batch writes the new schema into the same dir and both keep
    # resolving through the merged view
    r1 = _append_serve_index(spark, admitted(1), cfg, "doc_id", 1, idxmap_dir)
    assert r1["batch_id"] == 2
    r0b = _append_serve_index(spark, admitted(0), cfg, "doc_id", 0, idxmap_dir)
    assert r0b["batch_id"] == 1
    assert ann_index.load_pq_index(spark, idx_path).codes.count() == base_n + 1


def test_overlap_ledger_catches_partial_copies(spark, tmp_path):
    # round-9: cross-run SUBSTRING-OVERLAP dedup — a doc that lifts a
    # paragraph into otherwise-new text has low whole-doc Jaccard (the
    # MinHash leg admits it), but the lifted span shares winnowed
    # fingerprints. Within-batch via connected components (canonical min
    # id), cross-run via the persisted fps ledger, boilerplate capped,
    # replay idempotent.
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
    )

    # ~420-char lifted paragraph; with k=16/w=8/mod=4 sampling it yields
    # dozens of sampled fingerprints — far above min_shared=4
    para = (
        "the archival record of the expedition describes a long river "
        "journey through dense forest where the party catalogued birds "
        "and pressed plant specimens into heavy folios each evening by "
        "lamplight while the boats were drawn up on gravel bars and the "
        "notebooks slowly filled with measurements of water depth and "
        "temperature and careful sketches of the canyon walls above the "
        "camps "
    )
    filler_a = "unrelated text about cataloguing letters in archive boxes "
    filler_b = ("completely different material on shelving practices and "
                "inventory control for manuscript collections entirely ")
    fresh = ("novel content with its own vocabulary about telescope "
             "maintenance and mirror coating procedures in observatories "
             "during winter months when the dome machinery needs care " * 3)

    state = str(tmp_path / "overlap_state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         overlap_ledger=True, overlap_sample_mod=4)
    sch = T.StructType.fromDDL("doc_id long, text string")

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    # within-batch: docs 1 and 2 share the paragraph → canonical (min id)
    # survives; doc 3 is fresh
    b0 = lines([
        {"doc_id": 1, "text": para + filler_a},
        {"doc_id": 2, "text": filler_b + para},
        {"doc_id": 3, "text": fresh},
    ])
    r0 = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0["admitted"] == 2
    ids = {r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()}
    assert ids == {1, 3}

    # replay is idempotent (decides against pre-batch state)
    r0b = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0b["admitted"] == 2
    assert {
        r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()
    } == {1, 3}

    # cross-run: a NEW doc lifting the admitted paragraph into otherwise
    # new text is dropped; a genuinely new doc is admitted
    b1 = lines([
        {"doc_id": 10, "text": "some fresh framing sentence " + para +
                               "and a new conclusion paragraph here"},
        {"doc_id": 11, "text": "entirely new subject matter concerning "
                               "bridge engineering and load calculations "
                               "for riveted iron spans " * 4},
    ])
    r1 = _ingest_batch(spark, b1, 1, cfg, state, sch)
    assert r1["admitted"] == 1
    ids = {r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()}
    assert ids == {1, 3, 11}

    # boilerplate cap as a negative control: with every fp classified
    # boilerplate (cap 0), the same lifted paragraph is NOT evidence
    state2 = str(tmp_path / "overlap_state_cap")
    cfg_cap = CurationConfig(min_quality=0.0, neardup_method="none",
                             overlap_ledger=True, overlap_sample_mod=4,
                             overlap_fp_df_cap=0)
    r = _ingest_batch(spark, lines([
        {"doc_id": 1, "text": para + filler_a},
        {"doc_id": 2, "text": filler_b + para},
    ]), 0, cfg_cap, state2, sch)
    assert r["admitted"] == 2


def test_documented_overlap_configs_reach_catch_floor(spark):
    # OVERLAP.md's documented operating points, pinned (the
    # test_documented_ann_configs_reach_recall_floor pattern applied to
    # the overlap family): at span_reliable = mod·min_shared·(w+1) chars
    # the catch rate clears 0.95, and below the floor the decay is real
    # — both directions asserted so neither the rule nor the honesty of
    # its documentation can silently drift. Hash-deterministic: the
    # measured rates reproduce bit-for-bit on the pinned corpus.
    import os

    import pytest

    import overlap as ovl

    sf01 = os.environ.get("SPARK_GRAFT_RECALL_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(sf01):
        pytest.skip(f"overlap corpus dir missing: {sf01} "
                    "(set SPARK_GRAFT_RECALL_SF_DIR)")
    docs = load_table(spark, sf01, "documents")
    long_docs = ovl.build_long_docs(docs).localCheckpoint()
    full = ovl.measure_catch_rates(
        spark, long_docs, lifts=(600,), mods=(4, 16, 64),
        min_shareds=(2, 4),
    )
    rows = {(r["lift_chars"], r["sample_mod"]): r["catch"] for r in full}
    # the arithmetic OVERLAP.md leans on: measured mean shared fps track
    # the 2L/((w+1)·mod) density expectation (documented within ~5%;
    # asserted within 15% to absorb corpus drift)
    for r in full:
        assert abs(r["mean_shared"] - r["expected_shared"]) <= (
            0.15 * r["expected_shared"]
        ), r
    # the default operating point: mod=16/min_shared=4 catches >= 0.95
    # of lifts at its documented 576-char reliable span (measured 0.985
    # at 600); finer mod=4 is saturated there
    assert rows[(600, 16)][4] >= 0.95
    assert rows[(600, 4)][4] >= 0.99
    assert rows[(600, 16)][2] >= 0.99
    # below-floor honesty: mod=64's reliable span is 2304 chars — at 600
    # it must NOT look reliable (documented 0.14 at ms=4)
    assert rows[(600, 64)][4] <= 0.3

    # OVERLAP.md §short-docs (overlap_short_doc_frac=0.5 at the default
    # config, 300-char wholesale copies): the adaptive floor roughly
    # doubles catch (documented 0.465 → 0.875) while flagging <= 10% of
    # held-out same-distribution fresh docs
    srow = ovl.measure_short_doc_rates(spark, long_docs,
                                       doc_lens=(300,))[0]
    assert srow["catch_adaptive"] >= 0.85
    assert srow["catch_abs"] <= 0.55
    assert srow["fp_adaptive"] <= 0.10


def test_overlap_cross_run_cap_is_symmetric(spark, tmp_path):
    # round-10 VERDICT item 3: the cross-run leg joins the df-CAPPED
    # batch-side fps (`ok`), symmetric with the within-batch leg — a
    # fingerprint viral WITHIN the landing batch (new boilerplate pasted
    # into many docs in one drop) is not copying evidence, and before the
    # fix it fanned out batch_occurrences × cap rows in the cross-run
    # join AND dropped every carrier that shared it with any one admitted
    # doc. Real lifts (unique-to-two-docs spans) are caught exactly as
    # before.
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
    )

    para = (
        "the archival record of the expedition describes a long river "
        "journey through dense forest where the party catalogued birds "
        "and pressed plant specimens into heavy folios each evening by "
        "lamplight while the boats were drawn up on gravel bars and the "
        "notebooks slowly filled with measurements of water depth and "
        "temperature and careful sketches of the canyon walls above the "
        "camps "
    )
    boiler = (
        "this electronic finding aid was produced by the department of "
        "rare books and special collections using standard descriptive "
        "practice and is provided for research purposes only with all "
        "rights reserved by the university library which should be "
        "contacted directly for permission to publish or to request "
        "higher resolution reproductions of any listed material "
    )
    state = str(tmp_path / "overlap_sym_state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         overlap_ledger=True, overlap_sample_mod=4,
                         overlap_fp_df_cap=4)
    sch = T.StructType.fromDDL("doc_id long, text string")

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    # batch 0 admits one doc carrying the boilerplate and one carrying
    # the paragraph — both sets of fps enter state with df=1 (under the
    # state-side cap at read time)
    r0 = _ingest_batch(spark, lines([
        {"doc_id": 1, "text": boiler + "plus a unique accession note"},
        {"doc_id": 2, "text": para + "plus distinct catalogue prose"},
    ]), 0, cfg, state, sch)
    assert r0["admitted"] == 2

    # batch 1: ten docs sharing ONLY the (batch-viral: df=10 > cap=4)
    # boilerplate with admitted doc 1, plus one REAL lift of doc 2's
    # paragraph, plus one genuinely fresh doc
    uniq = [
        "completely separate subject on %s maintenance and repair" % w
        for w in ("telescope", "harpsichord", "windmill", "lighthouse",
                  "printing press", "seismograph", "icebreaker",
                  "funicular", "observatory clock", "canal lock")
    ]
    b1 = lines(
        [{"doc_id": 10 + i, "text": boiler + u} for i, u in enumerate(uniq)]
        + [{"doc_id": 30, "text": "fresh framing " + para + "new ending"},
           {"doc_id": 31, "text": "entirely new subject matter about "
                                  "bridge engineering and load tables "
                                  "for riveted iron spans " * 4}]
    )
    r1 = _ingest_batch(spark, b1, 1, cfg, state, sch)
    # the 10 boilerplate carriers and the fresh doc are admitted; only
    # the real lift is dropped by the cross-run leg
    assert r1["admitted"] == 11
    ids = {r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()}
    assert 30 not in ids and {10 + i for i in range(10)} <= ids and 31 in ids


def test_overlap_mod_auto_resolves_and_meta_pins_state_dir(spark, tmp_path):
    # round-10 VERDICT item 4 wiring: overlap_sample_mod="auto" resolves
    # via suggest_overlap_config and the resolved (k, w, mod) is PINNED
    # in the fps_meta sidecar — the mod must be identical at write and
    # probe time across every run of a state dir (a mismatch silently
    # zeroes the cross-run match rate), so later batches adopt the
    # persisted value and a contradicting EXPLICIT config is refused
    # loudly instead of missing every pair.
    import json

    import pytest
    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        _resolve_overlap_mod,
        compact_ingest_state,
    )

    state = str(tmp_path / "auto_mod_state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         overlap_ledger=True, overlap_sample_mod="auto")
    sch = T.StructType.fromDDL("doc_id long, text string")
    b0 = spark.createDataFrame(
        [(json.dumps({"doc_id": 1, "text": "short archival note"}),)],
        "value string",
    )
    r0 = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0["admitted"] == 1
    meta = spark.read.parquet(f"{state}/fps_meta").collect()[0]
    # auto == today's default operating point (pinned in the arithmetic
    # test); what matters here is that it was PERSISTED
    assert (meta.k, meta.w, meta.sample_mod) == (16, 8, 16)

    # an "auto" run after any formula change adopts the persisted value;
    # a matching explicit config is accepted too
    assert _resolve_overlap_mod(spark, f"{state}/fps", cfg) == 16
    cfg16 = CurationConfig(min_quality=0.0, neardup_method="none",
                           overlap_ledger=True, overlap_sample_mod=16)
    assert _resolve_overlap_mod(spark, f"{state}/fps", cfg16) == 16

    # contradicting explicit mod / k / w → loud refusal, not silent zero
    cfg8 = CurationConfig(min_quality=0.0, neardup_method="none",
                          overlap_ledger=True, overlap_sample_mod=8)
    with pytest.raises(ValueError, match="sampled at mod=16"):
        _resolve_overlap_mod(spark, f"{state}/fps", cfg8)
    cfgk = CurationConfig(min_quality=0.0, neardup_method="none",
                          overlap_ledger=True, overlap_k=8)
    with pytest.raises(ValueError, match="not comparable"):
        _resolve_overlap_mod(spark, f"{state}/fps", cfgk)

    # the sidecar survives state compaction (it lives NEXT TO fps/, not
    # inside it, where the fold's dir swap would delete it)
    compact_ingest_state(spark, state, max_files=0)
    assert _resolve_overlap_mod(spark, f"{state}/fps", cfg) == 16

    # ...and it shows up in the state report like every other artifact
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        ingest_state_report,
    )

    rep = {r.artifact: r for r in ingest_state_report(spark, state).collect()}
    assert "fps_meta" in rep and rep["fps_meta"].files > 0
    assert "sidecar" in rep["fps_meta"].detail

    # legacy upgrade path: a pre-round-10 dir (fps rows, NO meta) under
    # "auto" must pin the then-only default 16 — NOT today's suggestion,
    # which moves with min_shared (here it would suggest 8 and silently
    # halve the cross-run match rate on the mod-16 state)
    legacy = str(tmp_path / "legacy_state")
    spark.createDataFrame(
        [(1, 160)], "doc_id long, fp long"
    ).write.parquet(f"{legacy}/fps/batch_id=0")
    cfg_ms8 = CurationConfig(min_quality=0.0, neardup_method="none",
                             overlap_ledger=True, overlap_sample_mod="auto",
                             overlap_min_shared=8)
    assert _resolve_overlap_mod(spark, f"{legacy}/fps", cfg_ms8) == 16
    # ...and on a FRESH dir the same config consults the suggestion
    fresh = str(tmp_path / "fresh_state")
    assert _resolve_overlap_mod(spark, f"{fresh}/fps", cfg_ms8) == 8

    # round-11 (ADVICE): pinning a mod onto a meta-less dir is sanity-
    # checked against the rows themselves — a legacy dir actually written
    # at an explicit FINER mod (fp=8 contradicts mod 16) refuses loudly
    # under "auto" instead of adopting 16 and silently zeroing the
    # cross-run match rate; the explicit-mod path on the same dir is
    # checked identically. No meta is written by a refused pin.
    finer = str(tmp_path / "finer_legacy_state")
    spark.createDataFrame(
        [(1, 8), (1, 160)], "doc_id long, fp long"
    ).write.parquet(f"{finer}/fps/batch_id=0")
    with pytest.raises(ValueError, match="contradict the mod"):
        _resolve_overlap_mod(spark, f"{finer}/fps", cfg)
    cfg32 = CurationConfig(min_quality=0.0, neardup_method="none",
                           overlap_ledger=True, overlap_sample_mod=32)
    with pytest.raises(ValueError, match="contradict the mod"):
        _resolve_overlap_mod(spark, f"{finer}/fps", cfg32)
    import os as _os

    assert not _os.path.isdir(f"{finer}/fps_meta")
    # the mod the rows actually satisfy pins fine (and writes the meta)
    cfg8_ok = CurationConfig(min_quality=0.0, neardup_method="none",
                             overlap_ledger=True, overlap_sample_mod=8)
    assert _resolve_overlap_mod(spark, f"{finer}/fps", cfg8_ok) == 8


def test_overlap_adaptive_short_doc_floor(spark, tmp_path):
    # round-10: opt-in overlap_short_doc_frac — a SHORT doc wholesale-
    # copied out of an admitted doc carries too few sampled fps to reach
    # the absolute min_shared (the documented floor) and slips every
    # other ledger (different digest, low whole-doc Jaccard); with the
    # fraction set, the cross-run leg also drops a doc when one admitted
    # doc holds >= max(2, ceil(frac·own)) of the doc's OWN sampled fps.
    # Fresh short docs (novel text) stay admitted — the floor of 2 and
    # the fraction guard specificity. OVERLAP.md §short-docs carries the
    # measured catch/FP rates; this pins the mechanism end-to-end.
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
    )

    para = (
        "the archival record of the expedition describes a long river "
        "journey through dense forest where the party catalogued birds "
        "and pressed plant specimens into heavy folios each evening by "
        "lamplight while the boats were drawn up on gravel bars and the "
        "notebooks slowly filled with measurements of water depth and "
        "temperature and careful sketches of the canyon walls above the "
        "camps "
    )
    # ~110 chars of the admitted paragraph inside 3-char framing: the
    # doc IS mostly the copy, but at mod=8 it yields only ~2-3 sampled
    # fps — under the absolute min_shared=4 floor
    short_copy = "zq " + para[60:170] + " xv"
    fresh_short = ("entirely novel short text concerning lighthouse lens "
                   "rotation schedules and keeper logbooks kept offshore")
    sch = T.StructType.fromDDL("doc_id long, text string")

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    def run(state, cfg):
        r0 = _ingest_batch(spark, lines([
            {"doc_id": 1, "text": para + "plus distinct catalogue prose"},
        ]), 0, cfg, state, sch)
        assert r0["admitted"] == 1
        _ingest_batch(spark, lines([
            {"doc_id": 10, "text": short_copy},
            {"doc_id": 11, "text": fresh_short},
        ]), 1, cfg, state, sch)
        return {
            r.doc_id
            for r in spark.read.parquet(f"{state}/corpus").collect()
        }

    base = dict(min_quality=0.0, neardup_method="none",
                overlap_ledger=True, overlap_sample_mod=8)
    # absolute threshold only: the short wholesale copy slips through —
    # the documented floor, not a bug (OVERLAP.md)
    ids = run(str(tmp_path / "abs_state"), CurationConfig(**base))
    assert ids == {1, 10, 11}
    # adaptive floor on: the copy is dropped, the fresh doc is not
    ids = run(str(tmp_path / "ada_state"),
              CurationConfig(**base, overlap_short_doc_frac=0.5))
    assert ids == {1, 11}


def test_coarsen_overlap_mod_migrates_live_state(spark, tmp_path):
    # round-10: the maintenance verb behind "raise the mod as the corpus
    # grows" — re-pin fps_meta at a coarser power-of-two multiple and
    # shrink fps/ to match (nested sampling: every fp kept at 2m was
    # kept at m, so old state keeps matching new probes). Finer or
    # non-multiple mods refuse: the fps a finer sampling needs were
    # never persisted, and "migrating" down would silently zero the
    # cross-run match rate.
    import json

    import pytest
    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        coarsen_overlap_mod,
    )

    para = (
        "the archival record of the expedition describes a long river "
        "journey through dense forest where the party catalogued birds "
        "and pressed plant specimens into heavy folios each evening by "
        "lamplight while the boats were drawn up on gravel bars and the "
        "notebooks slowly filled with measurements of water depth and "
        "temperature and careful sketches of the canyon walls above the "
        "camps "
    )
    state = str(tmp_path / "coarsen_state")
    sch = T.StructType.fromDDL("doc_id long, text string")

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    def cfg(mod):
        return CurationConfig(min_quality=0.0, neardup_method="none",
                              overlap_ledger=True, overlap_sample_mod=mod)

    with pytest.raises(ValueError, match="nothing to coarsen"):
        coarsen_overlap_mod(spark, state, 8)

    r0 = _ingest_batch(spark, lines([
        {"doc_id": 1, "text": para + "plus distinct catalogue prose"},
    ]), 0, cfg(4), state, sch)
    assert r0["admitted"] == 1

    for bad in (3, 12, 2):  # non-multiple, non-pow2 ratio, finer
        with pytest.raises(ValueError, match="power-of-two multiple"):
            coarsen_overlap_mod(spark, state, bad)

    rep = coarsen_overlap_mod(spark, state, 8)
    assert rep["old_mod"] == 4 and rep["new_mod"] == 8
    assert 0 < rep["fps_rows_after"] < rep["fps_rows_before"]
    meta = spark.read.parquet(f"{state}/fps_meta").collect()[0]
    assert meta.sample_mod == 8
    # a CLEAN re-run (shrunk state, equal mods) is a fold-free no-op
    rep2 = coarsen_overlap_mod(spark, state, 8)
    assert rep2["fps_rows_before"] is None

    # the old explicit config now refuses; the migrated one works AND
    # the shrunk state still catches a cross-run lift at the coarser mod
    with pytest.raises(ValueError, match="sampled at mod=8"):
        _ingest_batch(spark, lines([
            {"doc_id": 5, "text": "whatever text here"},
        ]), 1, cfg(4), state, sch)
    r1 = _ingest_batch(spark, lines([
        {"doc_id": 10, "text": "fresh framing " + para + "new ending"},
        {"doc_id": 11, "text": "entirely new subject matter concerning "
                               "bridge engineering and load tables for "
                               "riveted iron spans " * 4},
    ]), 1, cfg(8), state, sch)
    assert r1["admitted"] == 1
    ids = {r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()}
    assert 10 not in ids and 11 in ids

    # the crash-window completion path (round-11 ADVICE): a crash between
    # the meta re-pin and the fps fold leaves meta=new over UNSHRUNK
    # state — simulated by hand-re-pinning the meta at 16 over the mod-8
    # state — and the re-run with new_mod == persisted mod must detect
    # the finer rows (fp % 16 != 0) and actually run the fold, not
    # early-return on the meta equality
    spark.createDataFrame(
        [(16, 8, 16)], "k int, w int, sample_mod int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{state}/fps_meta")
    n_finer = (
        spark.read.parquet(f"{state}/fps")
        .filter(F.col("fp") % 16 != 0).count()
    )
    assert n_finer > 0  # the simulated crash really left finer rows
    rep3 = coarsen_overlap_mod(spark, state, 16)
    assert rep3["old_mod"] == rep3["new_mod"] == 16
    assert rep3["fps_rows_after"] < rep3["fps_rows_before"]
    assert (
        spark.read.parquet(f"{state}/fps")
        .filter(F.col("fp") % 16 != 0).count() == 0
    )
    # ...and once completed, the equal-mod re-run is a no-op again
    assert coarsen_overlap_mod(spark, state, 16)["fps_rows_before"] is None


def test_ingest_stage_counts(spark, tmp_path):
    # round-9: opt-in per-stage survivor counts in the batch report —
    # "which gate/ledger dropped my documents" for the incremental path,
    # mirroring curation_report_df's per-stage rows for the batch DAG.
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
    )

    para = (
        "the archival record of the expedition describes a long river "
        "journey through dense forest where the party catalogued birds "
        "and pressed plant specimens into heavy folios each evening by "
        "lamplight while the boats were drawn up on gravel bars and the "
        "notebooks slowly filled with measurements of water depth and "
        "temperature and careful sketches of the canyon walls above "
    )
    state = str(tmp_path / "stage_counts_state")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         neardup_ledger=True, overlap_ledger=True,
                         overlap_sample_mod=4, ingest_stage_counts=True)
    sch = T.StructType.fromDDL("doc_id long, text string")
    rows = [
        {"doc_id": 1, "text": para + "unique tail alpha"},
        {"doc_id": 2, "text": para + "unique tail alpha"},  # exact dup
        {"doc_id": 3, "text": para + "unique tail beta"},   # near/overlap dup
        {"doc_id": 4, "text": "totally different archival text about "
                              "letters and shelving practices here"},
    ]
    lines = spark.createDataFrame(
        [(json.dumps(r),) for r in rows], "value string"
    )
    rep = _ingest_batch(spark, lines, 0, cfg, state, sch)
    sr = rep["stage_rows"]
    assert set(sr) == {"gate", "exact_dedup", "neardup_dedup",
                       "overlap_dedup"}
    # monotone survivor counts, ending exactly at the admitted total
    assert sr["gate"] == 4 and sr["exact_dedup"] == 3
    assert sr["gate"] >= sr["exact_dedup"] >= sr["neardup_dedup"]
    assert sr["neardup_dedup"] >= sr["overlap_dedup"] == rep["admitted"] == 2

    # default stays count-free: no stage_rows key in the report
    rep2 = _ingest_batch(
        spark, lines, 0,
        CurationConfig(min_quality=0.0, neardup_method="none"),
        str(tmp_path / "nc_state"), sch,
    )
    assert "stage_rows" not in rep2


def test_retract_documents_spans_all_state_surfaces(spark, tmp_path):
    # round-11: the takedown/retraction verb — one call removes a doc-id
    # set from every surface its admission touched (corpus, digest
    # ledger, minhash sigs + bands, semvecs, fps, and the pipeline-
    # managed serving index via a WAL tombstone), is idempotent when
    # re-run, survives an at-least-once batch replay (the guard), and
    # leaves a genuine RE-SUBMISSION of the same text admissible — the
    # documented semantics: erase the footprint, don't blocklist content.
    import json

    import pytest
    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        compact_ingest_state,
        ingest_state_report,
        retract_documents,
    )

    para = (
        "the archival record of the expedition describes a long river "
        "journey through dense forest where the party catalogued birds "
        "and pressed plant specimens into heavy folios each evening by "
        "lamplight while the boats were drawn up on gravel bars and the "
        "notebooks slowly filled with measurements of water depth and "
        "temperature and careful sketches of the canyon walls above "
    )
    other = (
        "totally different archival material concerning lighthouse lens "
        "rotation schedules and keeper logbooks maintained offshore with "
        "monthly oil consumption figures and visitation registers kept "
        "in the district office for later inspection by the board "
    )
    third = (
        "bridge engineering notes with load tables for riveted iron "
        "spans and maintenance intervals for painting and rivet "
        "replacement recorded by the county surveyor over two decades "
    )

    # pipeline-managed serving index, trained on a small synthetic corpus
    base_vecs = spark.createDataFrame(
        [(1000 + i, (para if i % 2 else other) + f" tail {i}",)
         for i in range(12)],
        "vec_id long, text string",
    ).select(
        "vec_id", hashed_text_embedding(F.col("text"), dim=64).alias("embedding")
    ).localCheckpoint()
    idx_path = str(tmp_path / "retract_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            base_vecs, m=8, n_codes=8, n_cells=4, iters=2, sample_fraction=1.0
        ),
        idx_path,
    )

    state = str(tmp_path / "retract_state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none", neardup_ledger=True,
        overlap_ledger=True, overlap_sample_mod=4,
        semantic_ledger=True, semdedup_threshold=0.95,
        semdedup_index_path=idx_path, serve_index_append=True,
    )

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    b0 = lines([
        {"doc_id": 1, "text": para + "unique ending alpha"},
        {"doc_id": 2, "text": other + "unique ending beta"},
    ])
    r0 = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0["admitted"] == 2
    r1 = _ingest_batch(
        spark, lines([{"doc_id": 3, "text": third + "unique ending gamma"}]),
        1, cfg, state, sch,
    )
    assert r1["admitted"] == 1
    digest1 = spark.read.parquet(f"{state}/corpus").filter(
        F.col("doc_id") == 1
    ).select(F.md5("text")).collect()[0][0]

    # ids never admitted no-op loudly-free and leave no record
    rep = retract_documents(spark, state, [777], cfg)
    assert rep["found"] == 0 and rep["scrubbed"] == {}
    import os

    assert not os.path.isdir(f"{state}/retracted")

    # preview first: would-scrub counts on all six surfaces + the index
    # leg's would_remove, with nothing mutated
    prev = retract_documents(spark, state, [1], cfg, dry_run=True)
    assert prev["dry_run"] is True and prev["found"] == 1
    assert set(prev["scrubbed"]) == {
        "corpus", "ledger", "sigs", "bands", "semvecs", "fps"
    }
    assert prev["index_tombstone"] == {"would_remove": 1}
    assert spark.read.parquet(f"{state}/sigs").filter(
        F.col("id") == 1
    ).count() == 1  # untouched by the preview

    rep = retract_documents(spark, state, [1], cfg)
    assert rep["requested"] == 1 and rep["found"] == 1
    assert rep["retract_batch_id"] == 0
    # every surface the doc touched reports scrubbed rows
    assert set(rep["scrubbed"]) == {
        "corpus", "ledger", "sigs", "bands", "semvecs", "fps"
    }
    assert rep["index_tombstone"] is not None

    # physically gone from all six surfaces; other docs intact
    assert sorted(
        r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()
    ) == [2, 3]
    ledg = [r.digest for r in spark.read.parquet(f"{state}/ledger").collect()]
    assert digest1 not in ledg and len(ledg) == 2
    assert spark.read.parquet(f"{state}/sigs").filter(
        F.col("id") == 1
    ).count() == 0
    assert spark.read.parquet(f"{state}/bands").filter(
        F.col("old_id") == 1
    ).count() == 0
    assert spark.read.parquet(f"{state}/semvecs").filter(
        F.col("old_id") == 1
    ).count() == 0
    assert spark.read.parquet(f"{state}/fps").filter(
        F.col("old_id") == 1
    ).count() == 0
    loaded = ann_index.load_pq_index(spark, idx_path)
    assert loaded.codes.filter(F.col("id") == 1).count() == 0
    assert loaded.codes.filter(F.col("id").isin(2, 3)).count() == 2

    # visible in the state report
    arts = {r.artifact for r in ingest_state_report(spark, state).collect()}
    assert "retracted" in arts

    # idempotent re-run: nothing found to scrub, no duplicate tombstone
    from pulfa_sausage_factory_spark.operators.ann_index import INDEX_LOG

    tombs_before = INDEX_LOG.view(spark, idx_path).committed("tombstone")
    rep2 = retract_documents(spark, state, [1], cfg)
    assert rep2["found"] == 1  # the recorded keys are still visible
    assert rep2["scrubbed"] == {} and rep2["index_tombstone"] is None
    assert rep2["retract_batch_id"] is None  # no second event recorded
    assert INDEX_LOG.view(spark, idx_path).committed(
        "tombstone"
    ) == tombs_before

    # at-least-once replay of batch 0 AFTER the retraction: the guard
    # re-excludes exactly the retracted doc — it must not resurface in
    # any ledger, and doc 2 survives the partition overwrite
    r0b = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0b["admitted"] == 1
    assert sorted(
        r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()
    ) == [2, 3]
    assert spark.read.parquet(f"{state}/sigs").filter(
        F.col("id") == 1
    ).count() == 0
    assert spark.read.parquet(f"{state}/fps").filter(
        F.col("old_id") == 1
    ).count() == 0
    loaded = ann_index.load_pq_index(spark, idx_path)
    assert loaded.codes.filter(F.col("id") == 1).count() == 0
    assert loaded.codes.filter(F.col("id") == 2).count() == 1

    # a RE-SUBMISSION of the identical text in a LATER batch is admitted
    # fresh — the footprint was erased, the content is not blocklisted
    r2 = _ingest_batch(
        spark, lines([{"doc_id": 99, "text": para + "unique ending alpha"}]),
        2, cfg, state, sch,
    )
    assert r2["admitted"] == 1
    assert sorted(
        r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()
    ) == [2, 3, 99]

    # ...and the retraction record survives the generic state fold, so
    # the replay guard keeps working after compaction
    compact_ingest_state(spark, state, max_files=0)
    r0c = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0c["admitted"] == 1
    ids_after = sorted(
        r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()
    )
    assert ids_after == [2, 3, 99]

    # a pending (committed) partition-swap sidecar — a retraction killed
    # between its sidecar write and the per-child renames — is flagged
    # by the state report and COMPLETED by the next ingest batch's heal
    import pulfa_sausage_factory_spark.fsutil as fsutil

    sig_len = len(
        spark.read.parquet(f"{state}/sigs").limit(1).collect()[0].old_sig
    )
    swap = f"{state}/sigs.__partswap__"
    spark.createDataFrame(
        [(555, [1] * sig_len, 1, 99)],
        "id long, old_sig array<bigint>, src_batch_id long, batch_id int",
    ).write.partitionBy("batch_id").parquet(swap)
    assert fsutil.exists(spark, f"{swap}/_SUCCESS")
    flagged = {
        r.artifact: r.detail
        for r in ingest_state_report(spark, state).collect()
    }
    assert "pending completion" in flagged["sigs"]
    _ingest_batch(
        spark, lines([{"doc_id": 600, "text": third + "fresh tail delta "
                       "about inspection schedules"}]),
        4, cfg, state, sch,
    )
    assert not fsutil.exists(spark, swap)
    assert spark.read.parquet(f"{state}/sigs").filter(
        F.col("id") == 555
    ).count() == 1  # the sidecar's child was swapped in by the heal


def test_folds_heal_pending_partition_swaps_first(spark, tmp_path):
    # round-11 ADVICE (medium): compact_ingest_state and
    # coarsen_overlap_mod must complete a retraction killed mid
    # swap_partitions BEFORE folding. A committed .__partswap__ sidecar
    # with unswapped children means the live dir still holds PRE-SCRUB
    # rows; folding those archives the unscrubbed rows into batch_id=-1
    # while the sidecar (a sibling — outside the fold's replace_dir swap)
    # survives and the next heal completes the swap WITHOUT re-scrubbing
    # the archive — the erasure is silently undone.
    import pulfa_sausage_factory_spark.fsutil as fsutil
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        coarsen_overlap_mod,
        compact_ingest_state,
    )

    state = str(tmp_path / "heal_state")
    spark.createDataFrame(
        [(1, [1, 2], 0, 0), (2, [3, 4], 0, 0), (3, [5, 6], 1, 1)],
        "id long, old_sig array<bigint>, src_batch_id long, batch_id int",
    ).write.partitionBy("batch_id").parquet(f"{state}/sigs")
    # killed retraction: committed sidecar whose batch_id=0 replacement
    # scrubbed id 1, crash before the child swap
    swap = f"{state}/sigs.__partswap__"
    spark.createDataFrame(
        [(2, [3, 4], 0, 0)],
        "id long, old_sig array<bigint>, src_batch_id long, batch_id int",
    ).write.partitionBy("batch_id").parquet(swap)
    assert fsutil.exists(spark, f"{swap}/_SUCCESS")

    rep = compact_ingest_state(spark, state, max_files=0)
    assert "sigs" in rep
    assert not fsutil.exists(spark, swap)
    assert sorted(
        r.id for r in spark.read.parquet(f"{state}/sigs").collect()
    ) == [2, 3], "fold archived the pre-swap (unscrubbed) rows"

    # same hazard on coarsen_overlap_mod's fps shrink
    state2 = str(tmp_path / "heal_state2")
    spark.createDataFrame(
        [(16, 8, 4)], "k int, w int, sample_mod int"
    ).coalesce(1).write.parquet(f"{state2}/fps_meta")
    spark.createDataFrame(
        [(1, 8, 0, 0), (2, 16, 0, 0), (3, 24, 1, 1)],
        "old_id long, fp long, src_batch_id long, batch_id int",
    ).write.partitionBy("batch_id").parquet(f"{state2}/fps")
    swap2 = f"{state2}/fps.__partswap__"
    # the scrub removed old_id 1 (fp=8 — survives the mod-8 shrink, so
    # only the heal ordering keeps it out)
    spark.createDataFrame(
        [(2, 16, 0, 0)],
        "old_id long, fp long, src_batch_id long, batch_id int",
    ).write.partitionBy("batch_id").parquet(swap2)
    assert fsutil.exists(spark, f"{swap2}/_SUCCESS")

    rep2 = coarsen_overlap_mod(spark, state2, new_mod=8)
    assert rep2["new_mod"] == 8
    assert not fsutil.exists(spark, swap2)
    rows = spark.read.parquet(f"{state2}/fps").collect()
    assert sorted((r.old_id, r.fp) for r in rows) == [(2, 16), (3, 24)], (
        "shrink folded the pre-swap (unscrubbed) fps rows"
    )


def test_retract_readmitted_same_id_scrubs_live_copy(spark, tmp_path):
    # round-11 VERDICT item 1 regression: a doc retracted, RE-SUBMITTED
    # under the SAME id with identical text (the verb's documented
    # semantics — erase the footprint, don't blocklist content), and
    # retracted AGAIN used to silently no-op: the keys union held the
    # prior retracted/ record (admitted_batch_id=0) and the fresh corpus
    # row (admitted_batch_id=1), dropDuplicates(["doc_id","digest"])
    # kept an ARBITRARY one, and when the stale record won, cand_batches
    # pruned every scrub to batch 0 — found=1, scrubbed={}, doc + ledger
    # digest still live. The fix dedups on the full key including
    # admitted_batch_id so BOTH admission batches stay in cand_batches;
    # the verb also self-checks its postcondition (`residual`).
    import json
    import os

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        retract_documents,
    )

    para = (
        "the archival record of the expedition describes a long river "
        "journey through dense forest where the party catalogued birds "
        "and pressed plant specimens into heavy folios each evening by "
        "lamplight while the boats were drawn up on gravel bars and the "
        "notebooks slowly filled with measurements of water depth and "
        "temperature and careful sketches of the canyon walls above "
    )
    other = (
        "totally different archival material concerning lighthouse lens "
        "rotation schedules and keeper logbooks maintained offshore with "
        "monthly oil consumption figures and visitation registers kept "
        "in the district office for later inspection by the board "
    )

    base_vecs = spark.createDataFrame(
        [(1000 + i, (para if i % 2 else other) + f" tail {i}",)
         for i in range(12)],
        "vec_id long, text string",
    ).select(
        "vec_id", hashed_text_embedding(F.col("text"), dim=64).alias("embedding")
    ).localCheckpoint()
    idx_path = str(tmp_path / "readmit_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            base_vecs, m=8, n_codes=8, n_cells=4, iters=2, sample_fraction=1.0
        ),
        idx_path,
    )

    state = str(tmp_path / "readmit_state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none", neardup_ledger=True,
        overlap_ledger=True, overlap_sample_mod=4,
        semantic_ledger=True, semdedup_threshold=0.95,
        semdedup_index_path=idx_path, serve_index_append=True,
    )

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    doc = {"doc_id": 1, "text": para + "unique ending alpha"}
    bystander = {"doc_id": 2, "text": other + "unique ending beta"}

    # batch 0: admit doc 1 (+ a bystander that must survive everything)
    r0 = _ingest_batch(spark, lines([doc, bystander]), 0, cfg, state, sch)
    assert r0["admitted"] == 2

    # first takedown: full scrub, clean self-check
    rep1 = retract_documents(spark, state, [1], cfg)
    assert rep1["found"] == 1 and rep1["scrubbed"] != {}
    assert rep1["residual"] == 0 and "residual_by_surface" not in rep1
    assert rep1["retract_batch_id"] == 0

    # re-submission of the SAME doc_id + identical text in a later batch
    # is admitted fresh (the documented semantics)
    r1 = _ingest_batch(spark, lines([doc]), 1, cfg, state, sch)
    assert r1["admitted"] == 1
    assert spark.read.parquet(f"{state}/corpus").filter(
        F.col("doc_id") == 1
    ).count() == 1

    # SECOND takedown — the exact round-11 repro. The keys now span two
    # admission batches; the scrub must reach the LIVE copy in batch 1.
    rep2 = retract_documents(spark, state, [1], cfg)
    assert rep2["found"] == 1
    assert rep2["scrubbed"] != {}, (
        "second takedown of a re-admitted doc silently no-opped"
    )
    assert rep2["scrubbed"].get("corpus", 0) == 1
    assert rep2["retract_batch_id"] == 1  # a second event is recorded
    assert rep2["residual"] == 0 and "residual_by_surface" not in rep2

    # zero rows on every surface; bystander intact
    digest = __import__("hashlib").md5(
        doc["text"].encode()
    ).hexdigest()
    assert spark.read.parquet(f"{state}/corpus").filter(
        F.col("doc_id") == 1
    ).count() == 0
    assert spark.read.parquet(f"{state}/ledger").filter(
        F.col("digest") == digest
    ).count() == 0
    for sub, col in (("sigs", "id"), ("bands", "old_id"),
                     ("semvecs", "old_id"), ("fps", "old_id")):
        if os.path.isdir(f"{state}/{sub}"):
            assert spark.read.parquet(f"{state}/{sub}").filter(
                F.col(col) == 1
            ).count() == 0, sub
    loaded = ann_index.load_pq_index(spark, idx_path)
    assert loaded.codes.filter(F.col("id") == 1).count() == 0
    assert spark.read.parquet(f"{state}/corpus").filter(
        F.col("doc_id") == 2
    ).count() == 1

    # both admission batches' records are in retracted/ so replays of
    # EITHER batch re-exclude the doc
    recs = spark.read.parquet(f"{state}/retracted").filter(
        F.col("doc_id") == 1
    ).collect()
    assert sorted(int(r.admitted_batch_id) for r in recs) == [0, 1]
    for bid, batch in ((0, [doc, bystander]), (1, [doc])):
        rrep = _ingest_batch(spark, lines(batch), bid, cfg, state, sch)
        assert spark.read.parquet(f"{state}/corpus").filter(
            F.col("doc_id") == 1
        ).count() == 0, f"replay of batch {bid} resurrected the doc"
        # round-11 ADVICE: the guard runs before input_rows is counted
        # and reports its exclusions, so the batch report reconciles
        assert rrep["retraction_excluded"] == 1
        assert rrep["input_rows"] == len(batch) - 1

    # idempotent verb replay still sees the recorded keys, scrubs nothing
    rep3 = retract_documents(spark, state, [1], cfg)
    assert rep3["found"] == 1 and rep3["scrubbed"] == {}
    assert rep3["residual"] == 0


def test_retract_replay_spares_other_docs_identical_content(
    spark, tmp_path
):
    # round-12 review: the ledger scrub used to anti-join the BARE
    # digest over cand_batches plus the fold archive. After
    # compact_ingest_state folds the ledger, a DIFFERENT doc that
    # legitimately re-admitted identical content (same digest, other
    # id, later batch) sits in the same batch_id=-1 archive partition —
    # a takedown REPLAY for the original id then deleted the live doc's
    # exact-dedup evidence, and the residual probe (same bare key)
    # blessed the damage: every future byte-identical copy re-admitted
    # as a duplicate. The scrub and probe now match the PAIR (key,
    # admitting batch) via _retraction_probe.
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        compact_ingest_state,
        retract_documents,
    )

    shared = (
        "a sufficiently long shared archival paragraph about river "
        "journeys and nightly folio pressing under lamplight " * 3
    )
    state = str(tmp_path / "spare_state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none")

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    # batch 0: doc 1 holds text T; takedown completes cleanly
    assert _ingest_batch(
        spark, lines([{"doc_id": 1, "text": shared}]), 0, cfg, state, sch
    )["admitted"] == 1
    rep1 = retract_documents(spark, state, [1], cfg)
    assert rep1["found"] == 1 and rep1["residual"] == 0

    # batch 1: doc 2 legitimately re-admits the identical content (the
    # digest was scrubbed — retraction is not a content blocklist)
    assert _ingest_batch(
        spark, lines([{"doc_id": 2, "text": shared}]), 1, cfg, state, sch
    )["admitted"] == 1

    # fold: doc 2's ledger digest row moves under batch_id=-1 with
    # src_batch_id=1 provenance (digest = md5 of the CLEANED text — read
    # it from the corpus, the raw-input hash never matches)
    compact_ingest_state(spark, state, max_files=0)
    digest = spark.read.parquet(f"{state}/corpus").filter(
        F.col("doc_id") == 2
    ).select(F.md5("text")).collect()[0][0]
    assert spark.read.parquet(f"{state}/ledger").filter(
        F.col("digest") == digest
    ).count() == 1

    # the at-least-once takedown replay for id 1: keys = the retracted/
    # record (digest, admitted_batch_id=0); the archive row's src=1
    # pair-mismatches, so doc 2's evidence survives and the replay is a
    # clean no-op
    rep2 = retract_documents(spark, state, [1], cfg)
    assert rep2["found"] == 1 and rep2["scrubbed"] == {}
    assert rep2["residual"] == 0
    assert spark.read.parquet(f"{state}/ledger").filter(
        F.col("digest") == digest
    ).count() == 1, (
        "takedown replay deleted a re-admitted doc's exact-dedup digest"
    )
    assert spark.read.parquet(f"{state}/corpus").filter(
        F.col("doc_id") == 2
    ).count() == 1

    # the surviving evidence still refuses a byte-identical future copy
    assert _ingest_batch(
        spark, lines([{"doc_id": 3, "text": shared}]), 2, cfg, state, sch
    )["admitted"] == 0


def test_retract_and_prune_take_the_index_lease(spark, tmp_path):
    # round-12 review: leases are per-directory — the state-dir lease a
    # verb holds provides no exclusion on the serving-index dir, and a
    # cron-driven compact_pq_index (under the index dir's own lease)
    # could sweep the WAL dirs between a verb's listing and its reads.
    # retract_documents' index legs and prune_ingest_audit's
    # completed-scrub probe now take the index dir's lease, so a live
    # concurrent index writer makes them refuse loudly (LeaseHeld)
    # instead of racing; the crash-ordering contract already makes a
    # re-run complete the interrupted takedown.
    import json
    import os

    import pytest
    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark import statedir
    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        prune_ingest_audit,
        retract_documents,
    )

    text = (
        "archival river journey paragraph with folio pressing details "
        "and gravel bar campsites noted in the expedition log " * 2
    )
    base_vecs = spark.createDataFrame(
        [(1000 + i, text + f" tail {i}") for i in range(8)],
        "vec_id long, text string",
    ).select(
        "vec_id",
        hashed_text_embedding(F.col("text"), dim=64).alias("embedding"),
    ).localCheckpoint()
    idx_path = str(tmp_path / "lease_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            base_vecs, m=8, n_codes=8, n_cells=2, iters=2,
            sample_fraction=1.0,
        ),
        idx_path,
    )

    state = str(tmp_path / "lease_state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none",
        semantic_ledger=True, semdedup_threshold=0.99,
        semdedup_index_path=idx_path, serve_index_append=True,
    )

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    assert _ingest_batch(
        spark, lines([{"doc_id": 7, "text": text + " unique omega"}]),
        0, cfg, state, sch,
    )["admitted"] == 1

    # a live external writer on the INDEX dir → the takedown's index leg
    # refuses instead of reading a WAL that writer may be sweeping
    with statedir.acquire_lease(spark, idx_path, "external-compactor"):
        with pytest.raises(statedir.LeaseHeld):
            retract_documents(spark, state, [7], cfg)

    # the state scrubs before the refused index leg are already-decided
    # work; with the index writer gone the re-run completes end to end
    rep = retract_documents(spark, state, [7], cfg)
    assert rep["residual"] == 0
    assert ann_index.load_pq_index(spark, idx_path).codes.filter(
        F.col("id") == 7
    ).count() == 0

    # prune's completed-scrub probe reads the same WAL → same refusal
    os.makedirs(f"{state}/checkpoint/commits", exist_ok=True)
    open(f"{state}/checkpoint/commits/0", "w").close()
    with statedir.acquire_lease(spark, idx_path, "external-compactor"):
        with pytest.raises(statedir.LeaseHeld):
            prune_ingest_audit(spark, state, cfg)
    out = prune_ingest_audit(spark, state, cfg)
    assert out["retracted"] == [1, 0]


def test_retract_vs_index_compaction_interleavings(spark, tmp_path):
    # round-12 (r11 VERDICT item 5): retraction tombstones only ids the
    # assembled view still SERVES, and compact_pq_index folds tombstones
    # into the snapshot — this pins the interleavings: retract →
    # in-pipeline compact (index_compact_after_batches) → verb replay →
    # re-append of the same id, asserting the id serves exactly when it
    # should at every step.
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.operators.ann_index import INDEX_LOG
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        retract_documents,
    )

    para = (
        "the archival record of the expedition describes a long river "
        "journey through dense forest where the party catalogued birds "
        "and pressed plant specimens into heavy folios each evening by "
        "lamplight while the boats were drawn up on gravel bars and the "
        "notebooks slowly filled with measurements of water depth and "
        "temperature and careful sketches of the canyon walls above "
    )
    other = (
        "totally different archival material concerning lighthouse lens "
        "rotation schedules and keeper logbooks maintained offshore with "
        "monthly oil consumption figures and visitation registers kept "
        "in the district office for later inspection by the board "
    )
    third = (
        "bridge engineering notes with load tables for riveted iron "
        "spans and maintenance intervals for painting and rivet "
        "replacement recorded by the county surveyor over two decades "
    )

    base_vecs = spark.createDataFrame(
        [(1000 + i, (para if i % 2 else other) + f" tail {i}",)
         for i in range(12)],
        "vec_id long, text string",
    ).select(
        "vec_id",
        hashed_text_embedding(F.col("text"), dim=64).alias("embedding"),
    ).localCheckpoint()
    idx_path = str(tmp_path / "ix_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            base_vecs, m=8, n_codes=8, n_cells=4, iters=2,
            sample_fraction=1.0,
        ),
        idx_path,
    )

    state = str(tmp_path / "ix_state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none", neardup_ledger=True,
        semantic_ledger=True, semdedup_threshold=0.95,
        semdedup_index_path=idx_path, serve_index_append=True,
        index_compact_after_batches=2,
    )

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    def served(doc_id) -> bool:
        codes = ann_index.load_pq_index(spark, idx_path).codes
        return codes.filter(F.col("id") == doc_id).count() > 0

    docA = {"doc_id": 1, "text": para + "unique ending alpha"}
    docB = {"doc_id": 2, "text": other + "unique ending beta"}

    # batch 0 admits A+B → index append (log id 0); the cadence may
    # already fold it — either way both serve
    r0 = _ingest_batch(spark, lines([docA, docB]), 0, cfg, state, sch)
    assert r0["index_appended"] == 2
    assert served(1) and served(2)

    # retract A → tombstone; A stops serving, B keeps serving
    rep = retract_documents(spark, state, [1], cfg)
    assert rep["index_tombstone"] is not None and rep["residual"] == 0
    assert not served(1) and served(2)

    # batch 1 (doc C) appends and trips the in-pipeline compaction —
    # the tombstone folds into the snapshot; A must STAY absent
    r1 = _ingest_batch(
        spark, lines([{"doc_id": 3, "text": third + "unique ending gamma"}]),
        1, cfg, state, sch,
    )
    assert r1["index_appended"] == 1
    assert "index_compacted" in r1, "cadence should have fired"
    log = INDEX_LOG.view(spark, idx_path)
    assert log.horizon >= 0
    assert log.committed("tombstone") == []  # folded away
    assert not served(1) and served(2) and served(3)

    # verb replay AFTER the fold: the probe reads the assembled view, A
    # is absent → no new tombstone lands (the folded one is history)
    tombs = INDEX_LOG.view(spark, idx_path).committed("tombstone")
    rep2 = retract_documents(spark, state, [1], cfg)
    assert rep2["index_tombstone"] is None and rep2["residual"] == 0
    assert INDEX_LOG.view(spark, idx_path).committed("tombstone") == tombs
    assert not served(1)

    # re-submission of the same id+text in a later batch: admitted, its
    # vectors re-append under a NEW log id, and the id serves again —
    # tombstones are WAL-ordered so the fold must not resurrect or
    # re-suppress across the re-append
    r2 = _ingest_batch(spark, lines([docA]), 2, cfg, state, sch)
    assert r2["admitted"] == 1 and r2["index_appended"] == 1
    assert served(1) and served(2) and served(3)

    # and a final retraction takes it down again (fresh tombstone above
    # the horizon)
    rep3 = retract_documents(spark, state, [1], cfg)
    assert rep3["index_tombstone"] is not None and rep3["residual"] == 0
    assert not served(1) and served(2) and served(3)


def test_prune_ingest_audit_retention(spark, tmp_path):
    # round-12 (r11 VERDICT item 3): the append-only audit ledgers
    # (retracted/, overlap_drops/) fold but never EXPIRED. The prune verb
    # drops rows at/below the stream checkpoint's committed horizon —
    # overlap_drops by src_batch_id; retracted/ only when the scrub
    # provably completed (a membership probe finds no trace) — and
    # refuses an explicit horizon above the replay window.
    import hashlib
    import json
    import os

    import pytest
    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        _stream_commit_horizon,
        prune_ingest_audit,
        retract_documents,
    )

    para = (
        "the archival record of the expedition describes a long river "
        "journey through dense forest where the party catalogued birds "
        "and pressed plant specimens into heavy folios each evening by "
        "lamplight while the boats were drawn up on gravel bars and the "
        "notebooks slowly filled with measurements of water depth and "
        "temperature and careful sketches of the canyon walls above "
    )
    state = str(tmp_path / "prune_state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         overlap_ledger=True, overlap_sample_mod=4,
                         overlap_drop_audit=True)

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    _ingest_batch(spark, lines([
        {"doc_id": 1, "text": para + "unique catalogue ending"},
        {"doc_id": 2, "text": "entirely new subject matter concerning "
                              "bridge engineering and load tables for "
                              "riveted iron spans " * 4},
    ]), 0, cfg, state, sch)
    _ingest_batch(spark, lines([
        {"doc_id": 10, "text": "fresh framing " + para + "novel ending"},
    ]), 1, cfg, state, sch)  # overlap drop (10, 1) → audit row
    assert spark.read.parquet(f"{state}/overlap_drops").count() >= 1

    # a COMPLETED retraction of doc 2 → record only
    rep = retract_documents(spark, state, [2], cfg)
    assert rep["residual"] == 0
    assert spark.read.parquet(f"{state}/retracted").count() == 1

    # no checkpoint at all → horizon sentinel -2, default prunes nothing
    assert _stream_commit_horizon(spark, state) == -2
    out = prune_ingest_audit(spark, state, cfg)
    assert out["up_to_batch"] == -1
    assert out["overlap_drops"] is None and out["retracted"] is None
    assert spark.read.parquet(f"{state}/retracted").count() == 1

    # fake the stream checkpoint: batches 0 and 1 committed
    os.makedirs(f"{state}/checkpoint/commits", exist_ok=True)
    for b in ("0", "1"):
        open(f"{state}/checkpoint/commits/{b}", "w").close()
    assert _stream_commit_horizon(spark, state) == 1

    # an INCOMPLETE retraction: a hand-landed record for doc 1, which is
    # still fully live (simulates a crash after the record, before any
    # scrub) — the membership probe must retain it
    d1 = hashlib.md5((para + "unique catalogue ending").encode()).hexdigest()
    spark.createDataFrame(
        [(1, d1, 0)], "doc_id long, digest string, admitted_batch_id long"
    ).write.mode("overwrite").parquet(f"{state}/retracted/batch_id=1")
    assert spark.read.parquet(f"{state}/retracted").count() == 2

    # refuse-beyond: rows above the committed horizon are load-bearing
    with pytest.raises(ValueError, match="above the stream checkpoint"):
        prune_ingest_audit(spark, state, cfg, up_to_batch=5)

    out = prune_ingest_audit(spark, state, cfg)
    assert out["horizon"] == 1 and out["up_to_batch"] == 1
    # all audit drops were src_batch_id <= 1 → gone
    assert out["overlap_drops"][0] >= 1 and out["overlap_drops"][1] == 0
    # doc 2's completed record dropped; doc 1's incomplete record kept
    assert out["retracted"] == [2, 1]
    assert out["retained_incomplete"] == 1
    left = spark.read.parquet(f"{state}/retracted").collect()
    assert [(r.doc_id, r.admitted_batch_id) for r in left] == [(1, 0)]

    # finishing the scrub makes the record prunable; idempotent re-run
    rep = retract_documents(spark, state, [1], cfg)
    assert rep["residual"] == 0
    out2 = prune_ingest_audit(spark, state, cfg)
    assert out2["retracted"][1] == 0 and out2["retained_incomplete"] == 0
    out3 = prune_ingest_audit(spark, state, cfg)
    assert out3["retracted"] in (None, [0, 0])


def test_prune_retains_record_with_pending_index_tombstone(
    spark, tmp_path, monkeypatch
):
    # round-12 review finding: the index tombstone is the takedown's
    # LAST step — a retraction that scrubbed all six state surfaces but
    # crashed (or hit LeaseHeld on the index dir) before
    # remove_from_pq_index leaves the id SERVING with only the
    # retracted/ record pointing at it. Pruning that record would strand
    # the takedown forever: the verb's re-run would find no keys and
    # return before its index leg. The prune probe therefore includes
    # the served index and retains the record until the tombstone lands.
    import json
    import os

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        prune_ingest_audit,
        retract_documents,
    )

    para = (
        "the archival record of the expedition describes a long river "
        "journey through dense forest where the party catalogued birds "
        "and pressed plant specimens into heavy folios each evening by "
        "lamplight while the boats were drawn up on gravel bars above "
    )
    other = (
        "totally different archival material concerning lighthouse lens "
        "rotation schedules and keeper logbooks maintained offshore by "
        "the district office for later inspection by the board members "
    )
    base_vecs = spark.createDataFrame(
        [(1000 + i, (para if i % 2 else other) + f" tail {i}",)
         for i in range(12)],
        "vec_id long, text string",
    ).select(
        "vec_id",
        hashed_text_embedding(F.col("text"), dim=64).alias("embedding"),
    ).localCheckpoint()
    idx_path = str(tmp_path / "strand_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            base_vecs, m=8, n_codes=8, n_cells=4, iters=2,
            sample_fraction=1.0,
        ),
        idx_path,
    )
    state = str(tmp_path / "strand_state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none", neardup_ledger=True,
        semantic_ledger=True, semdedup_threshold=0.95,
        semdedup_index_path=idx_path, serve_index_append=True,
    )
    lines = spark.createDataFrame(
        [(json.dumps({"doc_id": 1, "text": para + "unique alpha"}),),
         (json.dumps({"doc_id": 2, "text": other + "unique beta"}),)],
        "value string",
    )
    assert _ingest_batch(spark, lines, 0, cfg, state, sch)["admitted"] == 2
    os.makedirs(f"{state}/checkpoint/commits", exist_ok=True)
    open(f"{state}/checkpoint/commits/0", "w").close()

    # retraction crashes AFTER the state scrubs, BEFORE the tombstone
    def _boom(*a, **k):
        raise RuntimeError("injected crash before index tombstone")

    monkeypatch.setattr(
        "pulfa_sausage_factory_spark.operators.ann_index."
        "remove_from_pq_index", _boom,
    )
    import pytest

    with pytest.raises(RuntimeError, match="injected crash"):
        retract_documents(spark, state, [1], cfg)
    monkeypatch.undo()
    # state scrubbed, record present, id STILL SERVING
    assert spark.read.parquet(f"{state}/corpus").filter(
        F.col("doc_id") == 1
    ).count() == 0
    assert ann_index.load_pq_index(spark, idx_path).codes.filter(
        F.col("id") == 1
    ).count() == 1

    # the prune must RETAIN the record — the only pointer to the
    # pending tombstone
    out = prune_ingest_audit(spark, state, cfg)
    assert out["retracted"] == [1, 1] and out["retained_incomplete"] == 1

    # re-running the verb completes the takedown; then the record prunes
    rep = retract_documents(spark, state, [1], cfg)
    assert rep["index_tombstone"] is not None and rep["residual"] == 0
    assert ann_index.load_pq_index(spark, idx_path).codes.filter(
        F.col("id") == 1
    ).count() == 0
    out2 = prune_ingest_audit(spark, state, cfg)
    assert out2["retracted"][1] == 0 and out2["retained_incomplete"] == 0


def test_prune_precision_and_legacy_fallback_after_fold(spark, tmp_path):
    # round-12 review: the completed-scrub probe matches the PAIR (key
    # value, admitting batch) via _retraction_probe, so after a
    # compact_ingest_state fold a record whose doc was later
    # legitimately RE-ADMITTED (same digest, newer batch, archive rows
    # carrying src_batch_id provenance) no longer probes as "still
    # live" — the record prunes precisely pre-fold AND post-fold. The
    # conservative direction survives exactly where provenance is
    # missing: a provenance-less (pre-round-9) archive row key-matches
    # any admission and retains the record.
    import json
    import os

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        compact_ingest_state,
        prune_ingest_audit,
        retract_documents,
    )

    doc = {"doc_id": 1, "text": "a sufficiently long archival paragraph "
                               "about river journeys and folio pressing "
                               "repeated for length " * 3}
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none")

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    def setup(state):
        _ingest_batch(spark, lines([doc]), 0, cfg, state, sch)
        rep = retract_documents(spark, state, [1], cfg)
        assert rep["residual"] == 0
        _ingest_batch(spark, lines([doc]), 1, cfg, state, sch)  # re-admit
        os.makedirs(f"{state}/checkpoint/commits", exist_ok=True)
        for b in ("0", "1"):
            open(f"{state}/checkpoint/commits/{b}", "w").close()

    # pre-fold: per-batch pruning proves batch 0's scrub complete → drop
    s1 = str(tmp_path / "nofold")
    setup(s1)
    out = prune_ingest_audit(spark, s1, cfg)
    assert out["retracted"] == [1, 0] and out["retained_incomplete"] == 0
    # the re-admitted copy is untouched by the prune
    assert spark.read.parquet(f"{s1}/corpus").filter(
        F.col("doc_id") == 1
    ).count() == 1

    # post-fold: the archive holds the re-admission's digest but its
    # src_batch_id=1 provenance mismatches the record's admitted batch
    # 0 → the scrub is proven complete, the record prunes
    s2 = str(tmp_path / "folded")
    setup(s2)
    compact_ingest_state(spark, s2, max_files=0)
    out2 = prune_ingest_audit(spark, s2, cfg)
    assert out2["retracted"] == [1, 0] and out2["retained_incomplete"] == 0
    assert spark.read.parquet(f"{s2}/corpus").filter(
        F.col("doc_id") == 1
    ).count() == 1
    # and the surviving archive digest still refuses a byte-identical
    # future copy (the prune touched the audit ledger, never evidence)
    r = _ingest_batch(
        spark, lines([{"doc_id": 3, "text": doc["text"]}]), 2, cfg, s2, sch
    )
    assert r["admitted"] == 0

    # legacy fold archive without provenance: key-only fallback keeps
    # the record (conservative — over-retain, never over-prune)
    s3 = str(tmp_path / "legacy")
    setup(s3)
    compact_ingest_state(spark, s3, max_files=0)
    arch = spark.read.parquet(f"{s3}/ledger/batch_id=-1").drop(
        "src_batch_id"
    ).collect()
    spark.createDataFrame(arch).write.mode("overwrite").parquet(
        f"{s3}/ledger/batch_id=-1"
    )
    out3 = prune_ingest_audit(spark, s3, cfg)
    assert out3["retracted"] == [1, 1] and out3["retained_incomplete"] == 1


def test_overlap_drop_audit_records_provenance(spark, tmp_path):
    # round-11: cfg.overlap_drop_audit — every doc the CROSS-RUN overlap
    # leg drops lands (doc_id, old_id, shared_fps, threshold) audit rows
    # in overlap_drops/batch_id=N, the batch report carries the pair
    # count, and the drop set is DERIVED from the written audit so the
    # two provably agree. Replays overwrite identical rows.
    import json

    import pytest
    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        ingest_state_report,
    )

    para = (
        "the archival record of the expedition describes a long river "
        "journey through dense forest where the party catalogued birds "
        "and pressed plant specimens into heavy folios each evening by "
        "lamplight while the boats were drawn up on gravel bars and the "
        "notebooks slowly filled with measurements of water depth and "
        "temperature and careful sketches of the canyon walls above "
    )
    state = str(tmp_path / "audit_state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         overlap_ledger=True, overlap_sample_mod=4,
                         overlap_drop_audit=True)

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    # the audit needs the overlap ledger
    with pytest.raises(ValueError, match="overlap_drop_audit"):
        _ingest_batch(
            spark, lines([]), 0,
            CurationConfig(min_quality=0.0, neardup_method="none",
                           overlap_drop_audit=True),
            str(tmp_path / "bad_state"), sch,
        )

    r0 = _ingest_batch(spark, lines([
        {"doc_id": 1, "text": para + "unique catalogue ending"},
    ]), 0, cfg, state, sch)
    # first batch: no cross-run leg ran, the audit count is present and 0
    assert r0["admitted"] == 1 and r0["overlap_dropped_pairs"] == 0

    r1 = _ingest_batch(spark, lines([
        {"doc_id": 10, "text": "fresh framing " + para + "novel ending"},
        {"doc_id": 11, "text": "entirely new subject matter concerning "
                               "bridge engineering and load tables for "
                               "riveted iron spans " * 4},
    ]), 1, cfg, state, sch)
    assert r1["admitted"] == 1 and r1["overlap_dropped_pairs"] >= 1
    rows = spark.read.parquet(f"{state}/overlap_drops").collect()
    assert {(r.doc_id, r.old_id) for r in rows} == {(10, 1)}
    assert all(r.shared_fps >= r.threshold == 4 for r in rows)
    ids = {r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()}
    assert ids == {1, 11}

    # replay of batch 1 rewrites an identical audit partition
    snap = sorted(
        (r.doc_id, r.old_id, r.shared_fps, r.threshold) for r in rows
    )
    r1b = _ingest_batch(spark, lines([
        {"doc_id": 10, "text": "fresh framing " + para + "novel ending"},
        {"doc_id": 11, "text": "entirely new subject matter concerning "
                               "bridge engineering and load tables for "
                               "riveted iron spans " * 4},
    ]), 1, cfg, state, sch)
    assert r1b["overlap_dropped_pairs"] == r1["overlap_dropped_pairs"]
    assert sorted(
        (r.doc_id, r.old_id, r.shared_fps, r.threshold)
        for r in spark.read.parquet(f"{state}/overlap_drops").collect()
    ) == snap

    # surfaced in the state report like every other artifact
    arts = {r.artifact for r in ingest_state_report(spark, state).collect()}
    assert "overlap_drops" in arts

    # audit off: no dir, no report key (the default path is unchanged)
    state2 = str(tmp_path / "no_audit_state")
    cfg_off = CurationConfig(min_quality=0.0, neardup_method="none",
                             overlap_ledger=True, overlap_sample_mod=4)
    r = _ingest_batch(spark, lines([
        {"doc_id": 1, "text": para + "unique catalogue ending"},
    ]), 0, cfg_off, state2, sch)
    assert "overlap_dropped_pairs" not in r
    import os

    assert not os.path.isdir(f"{state2}/overlap_drops")


def test_overlap_auto_coarsen_cadence(spark, tmp_path):
    # round-11: cfg.overlap_coarsen_above_rows — the in-pipeline budget
    # cadence for the fps state (the index_compact_after_batches pattern
    # applied to coarsen_overlap_mod): when the footer-count exceeds the
    # budget, the mod is coarsened by the smallest power-of-two ratio
    # whose expected post-shrink count fits, the meta re-pins, and the
    # batch report says so. Requires overlap_sample_mod="auto" (an
    # explicit mod would contradict the re-pinned meta next batch).
    import json

    import pytest
    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        run_incremental_curation,
    )

    sch = T.StructType.fromDDL("doc_id long, text string")
    with pytest.raises(ValueError, match="overlap_sample_mod='auto'"):
        _ingest_batch(
            spark, spark.createDataFrame([("x",)], "value string"), 0,
            CurationConfig(min_quality=0.0, neardup_method="none",
                           overlap_ledger=True, overlap_sample_mod=4,
                           overlap_coarsen_above_rows=10),
            str(tmp_path / "bad_state"), sch,
        )
    with pytest.raises(ValueError, match="overlap_coarsen_above_rows"):
        _ingest_batch(
            spark, spark.createDataFrame([("x",)], "value string"), 0,
            CurationConfig(min_quality=0.0, neardup_method="none",
                           overlap_coarsen_above_rows=10),
            str(tmp_path / "bad_state2"), sch,
        )

    # winnowed fps are DISTINCT per doc, so the long doc must not repeat
    # itself (a repeated paragraph contributes each fp once); ~7k chars
    # of varied text → ~2·7000/(9·16) ≈ 97 expected fps at the auto mod
    words = ("archival river forest birds folios lamplight gravel "
             "notebooks measurements sketches canyon walls journey "
             "specimens evening temperature").split()
    long_doc = " ".join(
        words[i % len(words)] + str(i) for i in range(700)
    )

    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    state = str(tmp_path / "cadence_state")
    cfg = CurationConfig(
        min_quality=0.0, neardup_method="none",
        overlap_ledger=True, overlap_sample_mod="auto",
        overlap_coarsen_above_rows=10,
    )
    (in_dir / "b1.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": long_doc})
    )
    rep = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep["total_admitted"] == 1
    co = rep["batches"][-1].get("overlap_coarsened")
    assert co is not None and co["row_budget"] == 10
    # auto resolved 16 first (the documented default operating point),
    # then the cadence coarsened by a power-of-two ratio sized to the
    # measured overshoot
    assert co["old_mod"] == 16 and co["new_mod"] % 16 == 0
    assert co["new_mod"] > 16
    assert co["fps_rows_after"] < co["fps_rows_before"]
    meta = spark.read.parquet(f"{state}/fps_meta").collect()[0]
    assert meta.sample_mod == co["new_mod"]
    fps = spark.read.parquet(f"{state}/fps")
    assert fps.filter(F.col("fp") % co["new_mod"] != 0).count() == 0

    # a later run adopts the coarsened mod ("auto") and, while the state
    # stays under budget, the cadence is a no-op
    (in_dir / "b2.jsonl").write_text(
        json.dumps({"doc_id": 2, "text": "entirely new subject matter "
                    "concerning bridge engineering and load tables for "
                    "riveted iron spans recorded by the county surveyor"})
    )
    rep2 = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep2["total_admitted"] == 1
    assert "overlap_coarsened" not in rep2["batches"][-1]
    assert spark.read.parquet(f"{state}/fps_meta").collect()[0].sample_mod \
        == co["new_mod"]


def test_retract_documents_touches_only_affected_partitions(spark, tmp_path):
    # round-11 scale pin: the takedown's WRITE cost is the affected
    # partitions, never a dir rewrite — partitions that hold none of the
    # retracted rows keep their exact part-files (same names, same
    # bytes), which is only possible if the scrub never rewrote them.
    import glob
    import json
    import os

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        retract_documents,
    )

    state = str(tmp_path / "pp_state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none")

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    texts = {
        1: "first archival document about river expeditions and folios",
        2: "second archival document about lighthouse keepers offshore",
        3: "third archival document about bridge engineering load tables",
    }
    for b, (i, t) in enumerate(texts.items()):
        _ingest_batch(spark, lines([{"doc_id": i, "text": t}]), b, cfg,
                      state, sch)

    def listing(sub):
        out = {}
        for b in (0, 1, 2):
            d = f"{state}/{sub}/batch_id={b}"
            out[b] = sorted(
                (os.path.basename(p), os.path.getsize(p))
                for p in glob.glob(f"{d}/part-*")
            )
        return out

    corpus_before = listing("corpus")
    ledger_before = listing("ledger")

    rep = retract_documents(spark, state, [2], cfg)  # admitted by batch 1
    assert rep["found"] == 1
    assert rep["scrubbed"] == {"corpus": 1, "ledger": 1}

    corpus_after = listing("corpus")
    ledger_after = listing("ledger")
    for b in (0, 2):  # untouched partitions: byte-identical part files
        assert corpus_after[b] == corpus_before[b]
        assert ledger_after[b] == ledger_before[b]
    # the affected partition was emptied (its only row was retracted):
    # no replacement child is written for zero rows — the live child is
    # deleted outright
    assert corpus_after[1] == [] and ledger_after[1] == []
    assert not os.path.isdir(f"{state}/corpus/batch_id=1")
    assert sorted(
        r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()
    ) == [1, 3]


def test_retract_documents_string_ids_and_sidecar_flags(spark, tmp_path):
    # id_col is configurable and may be a string — the retraction verb's
    # keys, guard, and scrubs must not assume numeric ids. Also pins the
    # state report's marker-less (killed-write) sidecar flag, the
    # counterpart of the committed flag pinned in the main retract test.
    import json
    import os

    from pyspark.sql import types as T

    import pulfa_sausage_factory_spark.fsutil as fsutil
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
        ingest_state_report,
        retract_documents,
    )

    state = str(tmp_path / "strid_state")
    sch = T.StructType.fromDDL("id string, text string")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         id_col="id")

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    b0 = lines([
        {"id": "doc-alpha", "text": "first archival document about river "
                                    "expeditions and pressed folios"},
        {"id": "doc-beta", "text": "second archival document about "
                                   "lighthouse keepers working offshore"},
    ])
    r0 = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0["admitted"] == 2

    # dry_run: same keys + would-scrub counts, zero mutations
    prev = retract_documents(spark, state, ["doc-alpha"], cfg,
                             dry_run=True)
    assert prev["dry_run"] is True and prev["found"] == 1
    assert prev["scrubbed"] == {"corpus": 1, "ledger": 1}
    assert prev["retract_batch_id"] is None
    assert not os.path.isdir(f"{state}/retracted")
    assert sorted(
        r.id for r in spark.read.parquet(f"{state}/corpus").collect()
    ) == ["doc-alpha", "doc-beta"]

    rep = retract_documents(spark, state, ["doc-alpha"], cfg)
    assert "dry_run" not in rep
    assert rep["found"] == 1 and rep["scrubbed"] == {"corpus": 1,
                                                     "ledger": 1}
    assert sorted(
        r.id for r in spark.read.parquet(f"{state}/corpus").collect()
    ) == ["doc-beta"]
    # the replay guard keys on the string id too
    r0b = _ingest_batch(spark, b0, 0, cfg, state, sch)
    assert r0b["admitted"] == 1
    assert sorted(
        r.id for r in spark.read.parquet(f"{state}/corpus").collect()
    ) == ["doc-beta"]

    # marker-less partition-swap sidecar (a retraction killed mid-WRITE):
    # flagged as discarded-at-next-heal, and the next batch discards it
    swap = f"{state}/ledger.__partswap__"
    spark.createDataFrame(
        [("deadbeef", 1, 0)],
        "digest string, src_batch_id long, batch_id int",
    ).write.partitionBy("batch_id").parquet(swap)
    fsutil.delete(spark, f"{swap}/_SUCCESS")
    flagged = {
        r.artifact: r.detail
        for r in ingest_state_report(spark, state).collect()
    }
    assert "killed write" in flagged["ledger"]
    _ingest_batch(spark, lines([
        {"id": "doc-gamma", "text": "third archival document about county "
                                    "bridge engineering load tables"},
    ]), 1, cfg, state, sch)
    assert not os.path.isdir(swap)
    # the discarded sidecar's row never reached the ledger
    assert spark.read.parquet(f"{state}/ledger").filter(
        F.col("digest") == "deadbeef"
    ).count() == 0


def test_scan_state_flip_fallback_equality(spark, tmp_path, monkeypatch):
    # round 13: all four cross-run dedup legs (exact digest, MinHash
    # bands/sigs, overlap fps, semantic vectors) have a scan-state fast
    # path under _SCAN_STATE_BCAST_MAX_ROWS and the plain shuffled join
    # as the bulk-backfill fallback. Pin their EQUALITY: the same
    # two-batch ingest decides identically with the flip forced off
    # (cap monkeypatched to 0), for both ledger families.
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index
    from pulfa_sausage_factory_spark.pipelines import (
        curation_pipeline as cp,
    )

    sch = T.StructType.fromDDL("doc_id long, text string")

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps(r),) for r in rows], "value string"
        )

    def corpus_ids(state):
        return {
            r.doc_id for r in spark.read.parquet(f"{state}/corpus").collect()
        }

    # ---- scenario A: overlap + MinHash ledgers over long documents
    para = (
        "the archival record of the expedition describes a long river "
        "journey through dense forest where the party catalogued birds "
        "and pressed plant specimens into heavy folios each evening by "
        "lamplight while the boats were drawn up on gravel bars and the "
        "notebooks slowly filled with measurements of water depth and "
        "temperature and careful sketches of the canyon walls above "
    )
    fresh = (
        "novel content with its own vocabulary about telescope "
        "maintenance and mirror coating procedures in observatories "
        "during winter months when the dome machinery needs care " * 3
    )
    bridge = (
        "entirely new subject matter concerning bridge engineering "
        "and load calculations for riveted iron spans " * 4
    )
    filler = ("unrelated text about cataloguing letters in archive boxes "
              "and shelving practices for manuscript collections ")
    b0 = [{"doc_id": 1, "text": para + filler},
          {"doc_id": 2, "text": fresh}]
    b1 = [
        {"doc_id": 10, "text": para + filler},           # exact dup of 1
        {"doc_id": 11, "text": fresh + " extra tail words here"},  # minhash
        {"doc_id": 12, "text": "new framing sentence " + para +
                               "with a new conclusion"},  # overlap lift
        {"doc_id": 13, "text": bridge},                   # genuinely new
    ]
    cfg_a = CurationConfig(
        min_quality=0.0, neardup_method="none",
        neardup_ledger=True, neardup_threshold=0.6,
        overlap_ledger=True, overlap_sample_mod=4,
    )

    def run_scenario_a(state):
        cp._ingest_batch(spark, lines(b0), 0, cfg_a, state, sch)
        rep = cp._ingest_batch(spark, lines(b1), 1, cfg_a, state, sch)
        return rep["admitted"], corpus_ids(state)

    fast_n, fast_ids = run_scenario_a(str(tmp_path / "a_fast"))

    # ---- scenario B: semantic ledger over a family-clustered corpus
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
    fam0, fam1, fam3 = fams[0], fams[1], fams[3]

    def doc(words, i):
        rot = words[i % len(words):] + words[:i % len(words)]
        return " ".join(rot[:14])

    seed = [(f * 100 + i, doc(w, i))
            for f, w in enumerate(fams) for i in range(10)]
    cdf = spark.createDataFrame(
        seed, "vec_id long, text string"
    ).select(
        "vec_id",
        hashed_text_embedding(F.col("text"), dim=64).alias("embedding"),
    ).localCheckpoint()
    idx_path = str(tmp_path / "flip_idx")
    ann_index.save_pq_index(
        ann_index.build_pq_index(
            cdf, m=8, n_codes=8, n_cells=4, iters=2, sample_fraction=1.0
        ),
        idx_path,
    )
    cfg_b = CurationConfig(
        min_quality=0.0, neardup_method="none",
        semantic_ledger=True, semdedup_threshold=0.8,
        semdedup_index_path=idx_path,
    )
    near = doc(fam0, 3).replace(doc(fam0, 3).split()[0], "altered", 1)
    s0 = [{"doc_id": 1, "text": doc(fam0, 3)},
          {"doc_id": 2, "text": doc(fam1, 0)}]
    s1 = [{"doc_id": 20, "text": near},          # semantic near-copy of 1
          {"doc_id": 21, "text": doc(fam3, 5)}]  # family the ledger
          # has never admitted — admitted

    def run_scenario_b(state):
        cp._ingest_batch(spark, lines(s0), 0, cfg_b, state, sch)
        rep = cp._ingest_batch(spark, lines(s1), 1, cfg_b, state, sch)
        return rep["admitted"], corpus_ids(state)

    fast_bn, fast_bids = run_scenario_b(str(tmp_path / "b_fast"))

    # ---- force the plain-join fallback everywhere and repeat both
    rows_cap = cp._SCAN_STATE_BCAST_MAX_ROWS
    monkeypatch.setattr(cp, "_SCAN_STATE_BCAST_MAX_ROWS", 0)
    slow_n, slow_ids = run_scenario_a(str(tmp_path / "a_slow"))
    slow_bn, slow_bids = run_scenario_b(str(tmp_path / "b_slow"))

    assert (fast_n, fast_ids) == (slow_n, slow_ids)
    assert (fast_bn, fast_bids) == (slow_bn, slow_bids)

    # ---- the PAYLOAD gate (units, not rows) routes to the same
    # fallback: zero the units cap with the rows cap restored — the
    # minhash/overlap/semantic legs (whose broadcasts scale beyond one
    # small row per doc) must decide identically through it
    monkeypatch.setattr(cp, "_SCAN_STATE_BCAST_MAX_ROWS", rows_cap)
    monkeypatch.setattr(cp, "_SCAN_STATE_BCAST_MAX_UNITS", 0)
    unit_n, unit_ids = run_scenario_a(str(tmp_path / "a_units"))
    unit_bn, unit_bids = run_scenario_b(str(tmp_path / "b_units"))
    assert (unit_n, unit_ids) == (fast_n, fast_ids)
    assert (unit_bn, unit_bids) == (fast_bn, fast_bids)
    # and the scenarios actually exercised every leg: batch 1 dropped the
    # exact dup, the minhash near-dup and the overlap lift, admitted the
    # fresh doc; the semantic batch dropped the near-copy only
    assert fast_ids == {1, 2, 13}
    assert fast_bids == {1, 2, 21}


def test_ingest_duplicate_ids_with_distinct_text_do_not_fan_out(spark, tmp_path):
    """Round-14 ADVICE item 1: nothing upstream enforces id-uniqueness in
    a batch — two docs sharing an id with DIFFERENT text both survive the
    digest-keyed exact dedup, and the round-14 id-keyed `_sig` attach
    join would have fanned their rows out (duplicated admitted
    corpus/ledger rows). The attach now keys on the digest (unique
    post-exact-dedup), so the admitted row count is invariant and each
    row carries the signature of ITS OWN text."""
    import json

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        run_incremental_curation,
    )

    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    state = str(tmp_path / "state")
    cfg = CurationConfig(min_quality=0.0, neardup_ledger=True)
    texts = [
        "alpha bravo charlie delta echo foxtrot golf hotel india",
        "papa quebec romeo sierra tango uniform victor whiskey xray",
    ]
    (in_dir / "b1.jsonl").write_text(
        "\n".join(json.dumps({"doc_id": 7, "text": t}) for t in texts)
        + "\n" + json.dumps({"doc_id": 8, "text": "yankee zulu one two three"})
    )
    rep = run_incremental_curation(spark, str(in_dir), state, cfg)
    assert rep["total_admitted"] == 3  # both id-7 rows + id-8: no fan-out
    corpus = spark.read.parquet(rep["corpus_dir"])
    assert corpus.count() == 3
    assert corpus.filter(F.col("doc_id") == 7).count() == 2
    # each admitted row signed its own text: recompute signatures from the
    # stored text and compare with the sigs ledger by digest
    from pulfa_sausage_factory_spark.operators import dedup as _dedup

    sigs_dir = f"{state}/sigs"
    stored = spark.read.parquet(sigs_dir).select("id", "old_sig")
    recomputed = _dedup.minhash_signatures(
        corpus, text_col="text", id_col="doc_id"
    )
    # ids are non-unique, so compare as multisets of (id, sig) pairs
    want = sorted((r.id, tuple(r.sig)) for r in recomputed.collect())
    got = sorted((r.id, tuple(r.old_sig)) for r in stored.collect())
    assert got == want
    recomputed.unpersist()


#: word families for semantic-ledger corpora: docs of one family share a
#: cell of an index trained on all four
_FAMS = tuple(f.split() for f in (
    "river forest fox dog bank quiet green lazy jumps runs far away "
    "tonight brown quick over then into the and by",
    "archive letter aid princeton collection finding material box folder "
    "series inventory manuscript curator shelf record",
    "train engine track station signal platform carriage conductor "
    "whistle timetable junction freight diesel steam rail",
    "ocean coral reef tide wave current sail harbor anchor vessel depth "
    "marine salt spray horizon",
))


def _fam_doc(words, i):
    return " ".join((words[i:] + words[:i])[:14])


@pytest.fixture(scope="module")
def tiny_ivf_index(spark, tmp_path_factory):
    """Path of a 4-cell IVF index (m=8, n_codes=8) over 10 docs per family
    of ``_FAMS`` — read-only for its users (no serve_index_append)."""
    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators import ann_index

    vecs = spark.createDataFrame(
        [(f * 100 + i, _fam_doc(w, i)) for f, w in enumerate(_FAMS)
         for i in range(10)], "vec_id long, text string",
    ).select("vec_id", hashed_text_embedding(
        F.col("text"), dim=64).alias("embedding")).localCheckpoint()
    path = str(tmp_path_factory.mktemp("tiny_ivf") / "idx")
    ann_index.save_pq_index(ann_index.build_pq_index(
        vecs, m=8, n_codes=8, n_cells=4, iters=2, sample_fraction=1.0,
    ), path)
    return path


@pytest.mark.parametrize("ledgers", [
    {},
    {"neardup_ledger": True, "neardup_threshold": 0.5},
    {"overlap_ledger": True, "overlap_sample_mod": 4},
    {"semantic_ledger": True, "semdedup_threshold": 0.8},
    {"semantic_ledger": True, "semdedup_threshold": 0.8,
     "serve_index_append": True},
], ids=["exact", "neardup", "overlap", "semantic", "serve"])
def test_ingest_empty_and_all_corrupt_batches(spark, tmp_path, ledgers,
                                              request):
    # an empty batch and an all-corrupt batch admit nothing and count
    # every corrupt line, and the next normal batch admits (and appends
    # to the serving index) exactly what it does on a twin state that
    # never saw them
    import json
    import shutil

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.operators.ann_index import INDEX_LOG
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
    )

    def config(name):
        extra = {}
        if ledgers.get("semantic_ledger"):
            idx = request.getfixturevalue("tiny_ivf_index")
            if ledgers.get("serve_index_append"):
                # the append mutates the index: one copy per state
                shutil.copytree(idx, tmp_path / f"{name}_idx")
                idx = str(tmp_path / f"{name}_idx")
            extra["semdedup_index_path"] = idx
        return CurationConfig(min_quality=0.0, neardup_method="none",
                              **ledgers, **extra)

    sch = T.StructType.fromDDL("doc_id long, text string")

    def lines(values):
        return spark.createDataFrame([(v,) for v in values], "value string")

    def docs(rows):
        return lines([json.dumps({"doc_id": i, "text": t}) for i, t in rows])

    para = ("the survey party followed the river through dense forest and "
            "recorded water depth temperature and the birds seen at each "
            "camp while the boats were drawn up on gravel bars at dusk ")
    seed = [(1, para + "first notebook of the season"),
            (2, "the quick brown fox jumps over the lazy dog today")]
    nxt = [(10, para + "first notebook of the season"),      # exact copy
           (11, "the quick brown fox jumps over the lazy dog tonight"),
           (12, "telescope mirror coating procedures for winter months"),
           (13, "telescope mirror coating procedures for winter months"),
           (14, "archive shelving practice and box inventory control " + para)]
    corrupt = ["{not json", "]]"]

    got = {}
    for name in ("degenerate", "twin"):
        state, cfg = str(tmp_path / name), config(name)
        _ingest_batch(spark, docs(seed), 0, cfg, state, sch)
        if name == "degenerate":
            empty = _ingest_batch(spark, lines([]), 1, cfg, state, sch)
            bad = _ingest_batch(spark, lines(corrupt), 2, cfg, state, sch)
            for rep, n_bad in ((empty, 0), (bad, len(corrupt))):
                assert rep["admitted"] == 0 and rep["input_rows"] == 0, rep
                assert rep["corrupt_lines"] == n_bad, rep
            if cfg.serve_index_append:
                _assert_degenerate_serve_state(spark, state, cfg,
                                               (empty, bad), INDEX_LOG)
        rep = _ingest_batch(spark, docs(nxt), 3, cfg, state, sch)
        got[name] = (rep["admitted"], rep.get("index_appended"), sorted(
            r.doc_id for r in spark.read.parquet(f"{state}/corpus")
            .where(F.col("batch_id") == 3).select("doc_id").collect()
        ))
    assert got["degenerate"] == got["twin"]
    assert got["twin"][0] == len(got["twin"][2]) > 0
    if ledgers.get("serve_index_append"):
        assert got["twin"][1] == got["twin"][0]


#: (index log id, rows appended) of the empty and the all-corrupt batch,
#: and the index log's (attempted, committed, pending) ids after them
_DEGENERATE_SERVE_APPENDS = [(2, 0), (3, 0)]
_DEGENERATE_SERVE_LOG = ([1, 2, 3], [1, 2, 3], [])


def _assert_degenerate_serve_state(spark, state, cfg, reps, index_log):
    """After the empty and the all-corrupt batch of a serve-index state:
    each reserved and appended an empty index log entry, every entry is
    committed, and fsck finds nothing to fail or warn about."""
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        check_ingest_state,
    )

    assert [(r.get("index_batch_id"), r.get("index_appended"))
            for r in reps] == _DEGENERATE_SERVE_APPENDS, reps
    log = index_log.view(spark, cfg.semdedup_index_path)
    assert (sorted(log.attempted()), log.committed(), log.pending) == \
        _DEGENERATE_SERVE_LOG
    bad = [r for r in check_ingest_state(spark, state, cfg).collect()
           if r.status in ("fail", "warn")]
    assert not bad, bad


#: Spark jobs of the SECOND of two small ingest batches, per ledger config
#: (the first batch only lays down state for the cross-run legs to probe),
#: the pooled state writes included
_INGEST_BATCH_JOBS = {"exact": 13, "minhash": 34, "neardup_overlap": 69,
                      "semantic": 31}


def test_ingest_batch_job_pins(spark, tmp_path, count_jobs,
                               tiny_ivf_index):
    # one micro-batch's Spark job count per ledger family, and no
    # persisted block outliving the batch that cached it
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines import (
        curation_pipeline as cp,
    )
    from pulfa_sausage_factory_spark.session import release_local_checkpoint

    sch = T.StructType.fromDDL("doc_id long, text string")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def lines(rows):
        return spark.createDataFrame(
            [(json.dumps({"doc_id": i, "text": t}),) for i, t in rows],
            "value string",
        )

    para = ("the survey party followed the river through dense forest and "
            "recorded water depth temperature and the birds seen at each "
            "camp while the boats were drawn up on gravel bars at dusk ")
    fresh = ("telescope mirror coating procedures in observatories during "
             "winter months when the dome machinery needs care ") * 3
    lexical = (
        [(1, para + "first notebook of the season"), (2, fresh)],
        [(10, para + "first notebook of the season"),        # exact copy
         (11, fresh + "and a short tail"),                   # near-dup
         (12, "a new framing sentence " + para + "ends it"),  # overlap
         (13, "bridge engineering and load calculations for riveted "
              "iron spans " * 4)],                           # new
    )
    first = _fam_doc(_FAMS[0], 3)
    semantic = ([(1, first), (2, _fam_doc(_FAMS[1], 0))],
                [(20, first.replace(first.split()[0], "altered", 1)),
                 (21, _fam_doc(_FAMS[3], 5))])
    base = dict(min_quality=0.0, neardup_method="none")
    configs = {
        "exact": (CurationConfig(**base), lexical),
        "minhash": (CurationConfig(**base, neardup_ledger=True), lexical),
        "neardup_overlap": (CurationConfig(
            **base, neardup_ledger=True, neardup_threshold=0.6,
            overlap_ledger=True, overlap_sample_mod=4,
            overlap_drop_audit=True,
        ), lexical),
        "semantic": (CurationConfig(
            **base, semantic_ledger=True, semdedup_threshold=0.8,
            semdedup_index_path=tiny_ivf_index,
        ), semantic),
    }
    got = {}
    for name, (cfg, batches) in configs.items():
        state = str(tmp_path / name)
        # loaded once per run, as run_incremental_curation does — the
        # run-scoped cells are not the batch's to release
        cents = cp._load_semantic_centroids(spark, cfg)
        for b, rows in enumerate(batches):
            before = persisted()
            rep, ids, jobs = count_jobs(lambda: cp._ingest_batch(
                spark, lines(rows), b, cfg, state, sch, sem_centroids=cents,
            ))
            # no block cached inside the batch outlives it
            assert persisted() <= before, (name, b, persisted() - before)
        if cents is not None:
            release_local_checkpoint(cents)
        got[name] = (len(ids), rep["admitted"])
        # an equality: the count is deterministic, so one more job shows
        assert len(ids) == _INGEST_BATCH_JOBS[name], (
            f"{name}: batch 1 ran {len(ids)} jobs, pinned "
            f"{_INGEST_BATCH_JOBS[name]}:\n{jobs}"
        )
    # every leg decided something on batch 1
    assert got["exact"][1] == 3 and got["minhash"][1] == 2
    assert got["neardup_overlap"][1] == 1 and got["semantic"][1] == 1


def test_semantic_runs_release_their_cells(spark, tmp_path, tiny_ivf_index):
    # the semantic ledger's cells are checkpointed once per run; three
    # runs of one batch each leave no persisted RDD behind, and neither
    # does a direct batch that loads its own cells
    import json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines import (
        curation_pipeline as cp,
    )

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         semantic_ledger=True, semdedup_threshold=0.8,
                         semdedup_index_path=tiny_ivf_index)
    inp, state = tmp_path / "in", str(tmp_path / "state")
    inp.mkdir()
    before = persisted()
    for b in range(3):
        (inp / f"shard-{b}.jsonl").write_text("\n".join(
            json.dumps({"doc_id": b * 10 + i, "text": _fam_doc(w, b + i)})
            for i, w in enumerate(_FAMS[:2])
        ) + "\n")
        rep = cp.run_incremental_curation(spark, str(inp), state, cfg)
        assert len(rep["batches"]) == 1
        assert persisted() <= before, persisted() - before
    lines = spark.createDataFrame(
        [(json.dumps({"doc_id": 99, "text": _fam_doc(_FAMS[3], 2)}),)],
        "value string",
    )
    cp._ingest_batch(spark, lines, 7, cfg, str(tmp_path / "direct"),
                     T.StructType.fromDDL("doc_id long, text string"))
    assert persisted() <= before, persisted() - before


@pytest.mark.parametrize("knobs, match", [
    ({"serve_index_append": True},
     "serve_index_append needs cfg.semantic_ledger"),
    ({"index_compact_after_batches": 2},
     "index_compact_after_batches needs cfg.serve_index_append"),
    ({"overlap_coarsen_above_rows": 10},
     "overlap_coarsen_above_rows needs cfg.overlap_ledger"),
    ({"overlap_ledger": True, "overlap_coarsen_above_rows": 10},
     "overlap_coarsen_above_rows needs overlap_sample_mod='auto'"),
    ({"overlap_drop_audit": True},
     "overlap_drop_audit needs cfg.overlap_ledger"),
    ({"drift_ref_profile": {"rows": 3}},
     "drift_ref_profile must be a profile_table result dict"),
    ({"semantic_ledger": True},
     "semantic_ledger needs cfg.semdedup_index_path"),
], ids=["serve_append", "index_compact", "coarsen_no_overlap",
        "coarsen_fixed_mod", "drop_audit", "drift_profile", "semantic"])
def test_ingest_batch_refuses_contradictory_config(spark, tmp_path, knobs,
                                                   match):
    # a config whose knobs contradict each other is refused before the
    # batch touches the state dir: nothing is read, leased or written
    import os

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        _ingest_batch,
    )

    state = str(tmp_path / "state")
    lines = spark.createDataFrame([('{"doc_id": 1, "text": "a b c"}',)],
                                  "value string")
    with pytest.raises(ValueError, match=match):
        cfg = CurationConfig(min_quality=0.0, neardup_method="none", **knobs)
        _ingest_batch(spark, lines, 0, cfg, state,
                      T.StructType.fromDDL("doc_id long, text string"))
    assert not os.path.exists(state)


@pytest.mark.parametrize(
    "field", ["ledger_bloom", "ledger_bloom_expected_items", "ledger_bloom_fpp"]
)
def test_removed_ledger_bloom_fields_are_rejected(field):
    # the ledger Bloom sidecar is gone: its config fields no longer exist,
    # so a config that still sets one fails when it is built instead of
    # being silently ignored
    with pytest.raises(TypeError, match=field):
        CurationConfig(**{field: True})


@pytest.mark.parametrize("field", [
    "semdedup_impl", "contamination_impl", "overlap_impl",
    "clf_hasher", "neardup_max_hamming", "contamination_min_shared",
    "overlap_w", "drift_rel_tol", "drift_null_frac_tol", "pack_shards",
])
def test_removed_impl_fields_are_rejected(field):
    # the ingest and batch DAG always run the arrow twins (the operators
    # keep impl=), and the other fields are constants or operator
    # defaults now, so a config still naming one of these fields fails
    # when it is built
    with pytest.raises(TypeError, match=field):
        CurationConfig(**{field: "expr"})


@pytest.mark.parametrize("module", [
    "pulfa_sausage_factory_spark.functions.bloom",
    "pulfa_sausage_factory_spark.pipelines.ledger_bloom",
])
def test_removed_ledger_bloom_modules_are_gone(module):
    import importlib

    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(module)


def test_retract_documents_refuses_multi_column_ids(spark, tmp_path):
    # an ids DataFrame must carry exactly one id column; a wider one is
    # refused before any surface is scrubbed, and the verb's writer lease
    # is released on the way out
    from pulfa_sausage_factory_spark import statedir
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        retract_documents,
    )

    state = str(tmp_path / "state")
    ids = spark.createDataFrame([(1, "x")], "doc_id long, tag string")
    with pytest.raises(ValueError, match="exactly one id column"):
        retract_documents(spark, state, ids, CurationConfig())
    assert not (tmp_path / "state" / "retracted").exists()
    statedir.acquire_lease(spark, state, owner="next-writer").release()


def test_every_config_field_has_a_caller():
    # every CurationConfig field is set somewhere outside the class body —
    # by the package, the root scripts, perfbench/ or the tests — as a
    # CurationConfig/replace/dict keyword, a dict-literal key or an
    # attribute store; a field nothing sets is a constant, not a setting
    import ast
    import dataclasses
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    files = [*root.glob("*.py"),
             *(root / "pulfa_sausage_factory_spark").rglob("*.py"),
             *(root / "perfbench").glob("*.py"), *(root / "tests").glob("*.py")]
    set_names = set()
    for path in files:
        tree = ast.parse(path.read_text())
        body = {id(n) for c in ast.walk(tree)
                if isinstance(c, ast.ClassDef) and c.name == "CurationConfig"
                for n in ast.walk(c)}
        for node in ast.walk(tree):
            if id(node) in body:
                continue
            if isinstance(node, ast.Call) and getattr(
                node.func, "attr", getattr(node.func, "id", None)
            ) in {"CurationConfig", "replace", "dict"}:
                set_names.update(k.arg for k in node.keywords)
            elif isinstance(node, ast.Attribute) and isinstance(
                node.ctx, ast.Store
            ):
                set_names.add(node.attr)
            elif isinstance(node, ast.Dict):
                set_names.update(k.value for k in node.keys
                                 if isinstance(k, ast.Constant))
    unset = [f.name for f in dataclasses.fields(CurationConfig)
             if f.name not in set_names]
    assert not unset, f"CurationConfig fields nothing sets: {unset}"


def test_state_writers_enter_through_the_verb_frame():
    # curation_pipeline heals and replaces state dirs only inside
    # _state_verb and _Verb, and no public verb is split into a wrapper
    # plus a `_<verb>_body`: a new verb gets the lease and the heal by
    # entering the frame, not by writing them out again
    import ast
    import inspect

    from pulfa_sausage_factory_spark.pipelines import curation_pipeline as cp

    tree = ast.parse(inspect.getsource(cp))
    frame = {"_state_verb", "_Verb"}
    guarded = {"heal_dir", "replace_dir", "recover_replaced_dir",
               "recover_partition_swaps"}
    outside = []
    for top in tree.body:
        if getattr(top, "name", None) in frame:
            continue
        for node in ast.walk(top):
            named = (
                node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else None
            )
            if named in guarded or isinstance(node, ast.ImportFrom) and {
                a.name for a in node.names
            } & guarded:
                outside.append((getattr(top, "name", "<module>"),
                                node.lineno))
    assert not outside, f"state heal/replace outside the frame: {outside}"
    funcs = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    split = sorted(
        name for name in funcs
        if name.startswith("_") and name.endswith("_body")
        and name[1:-len("_body")] in funcs
    )
    assert not split, f"verbs split into wrapper + body: {split}"
    assert "_writer_lease" not in funcs
