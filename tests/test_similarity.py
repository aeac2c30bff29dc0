"""X3 — ANN recall properties: multi-probe LSH dominates single-probe and
converges toward brute force as the probe radius grows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulfa_sausage_factory_spark import plans
from pulfa_sausage_factory_spark.io import load_table
from pulfa_sausage_factory_spark.operators import similarity
from pulfa_sausage_factory_spark.functions.vectors import as_double_array
from pulfa_sausage_factory_spark.operators.similarity import (
    knn_bruteforce,
    knn_lsh,
)


def _recall(approx, exact) -> float:
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    return len(a & e) / len(e)


def test_multiprobe_lifts_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.limit(300)
    queries = emb.limit(8)
    exact = knn_bruteforce(corpus, queries, k=5)
    r = {
        p: _recall(knn_lsh(corpus, queries, k=5, bits=4, probe_hamming=p), exact)
        for p in (0, 1, 2)
    }
    # monotone in the probe radius, and radius-2 must be a real improvement
    # over single-bucket probing on this fixture
    assert r[0] <= r[1] <= r[2]
    assert r[2] > r[0]
    assert r[2] >= 0.6


def test_probe_radius_validated(spark, sf_dir):
    import pytest

    emb = load_table(spark, sf_dir, "embeddings").limit(10)
    with pytest.raises(ValueError):
        knn_lsh(emb, emb, probe_hamming=3)


def test_embedding_neardup_crossjoin_requires_opt_in(spark, sf_dir):
    # block_col=None is the O(n²) all-pairs baseline — reaching it must be
    # an explicit decision, never a default-argument accident
    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="allow_crossjoin"):
        similarity.embedding_neardup(emb, threshold=0.9, block_col=None)
    df = similarity.embedding_neardup(
        emb.limit(50), threshold=0.9, block_col=None, allow_crossjoin=True
    )
    assert df.count() >= 0  # opted-in baseline still runs


def test_ivf_trained_centroids_lift_recall(spark, sf_dir):
    # k-means-trained cells must not lose to the first-N stand-in at equal
    # (n_cells, n_probe) budget — measured vs the brute-force ground truth.
    # (sf0.001 fixture: first-N 0.320/0.505, trained 0.350/0.555.)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in knn_bruteforce(emb, queries, k=10).collect()
    }

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & exact) / len(exact)

    cent = similarity.train_ivf_centroids(
        emb, n_cells=16, iters=2, sample_fraction=1.0
    )
    for n_probe in (2, 4):
        first = recall(
            similarity.knn_ivf(emb, queries, k=10, n_cells=16, n_probe=n_probe)
        )
        trained = recall(
            similarity.knn_ivf(
                emb, queries, k=10, n_cells=16, n_probe=n_probe, centroids=cent
            )
        )
        assert trained >= first, (n_probe, trained, first)


def test_ivf_training_is_deterministic(spark, sf_dir):
    # hash-bucket sample + first-N init + fixed iteration count → the
    # trained centroids are bit-identical across runs (no RNG anywhere)
    emb = load_table(spark, sf_dir, "embeddings")
    a = similarity.train_ivf_centroids(emb, n_cells=8, iters=2, sample_fraction=0.5)
    b = similarity.train_ivf_centroids(emb, n_cells=8, iters=2, sample_fraction=0.5)
    ra = sorted((r.cell_id, tuple(r.cent)) for r in a.collect())
    rb = sorted((r.cell_id, tuple(r.cent)) for r in b.collect())
    assert ra == rb
    assert len(ra) == 8


def _semdedup_reference(rows, n_cells, threshold, keep="low_centroid_sim"):
    """Straight-line SemDeDup (Abbas et al. 2023): first-N centroids, argmax
    assignment, within-cell priority order, upper-triangular removal.
    Arithmetic mirrors functions/vectors.py exactly (sequential folds)."""
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def nrm(a):
        acc = 0.0
        for x in a:
            acc = acc + x * x
        return acc ** 0.5

    def cos(a, b):
        return dot(a, b) / (nrm(a) * nrm(b))

    cents = {cid: vecs[cid] for cid in sorted(vecs)[:n_cells]}
    assign, cent_sim = {}, {}
    for vid, v in vecs.items():
        best = max(
            sorted(cents), key=lambda c: (cos(v, cents[c]), -c)
        )  # max cos, tiebreak LOWER cell_id
        assign[vid] = best
        cent_sim[vid] = cos(v, cents[best])
    removed = set()
    for cell in set(assign.values()):
        members = [vid for vid in vecs if assign[vid] == cell]
        rev = keep == "high_centroid_sim"
        members.sort(key=lambda i: (-cent_sim[i] if rev else cent_sim[i], i))
        for j, vid in enumerate(members):
            if any(
                cos(vecs[earlier], vecs[vid]) >= threshold
                for earlier in members[:j]
            ):
                removed.add(vid)
    return assign, removed


def _with_planted_dups(spark, sf_dir, n=120, n_dups=15):
    """Fixture corpus + near-copies of every 8th vector (slightly scaled +
    one perturbed coordinate) so semantic duplicates exist by construction."""
    emb = load_table(spark, sf_dir, "embeddings").limit(n)
    rows = emb.select("vec_id", "embedding").collect()
    planted = []
    for r in rows[::8][:n_dups]:
        v = [float(x) * 1.01 for x in r.embedding]
        v[0] += 0.05
        planted.append((100_000 + r.vec_id, v))
    dup_df = spark.createDataFrame(planted, "vec_id long, embedding array<double>")
    base = emb.select("vec_id", as_double_array("embedding").alias("embedding"))
    return base.union(dup_df)


def test_semdedup_matches_reference(spark, sf_dir):
    from pulfa_sausage_factory_spark.operators.similarity import semdedup

    corpus = _with_planted_dups(spark, sf_dir)
    rows = corpus.collect()
    for threshold in (0.85, 0.95):
        ref_assign, ref_removed = _semdedup_reference(rows, 8, threshold)
        got = semdedup(corpus, n_cells=8, threshold=threshold).collect()
        assert {r.id: r.cell_id for r in got} == ref_assign
        assert {r.id for r in got if r.removed} == ref_removed
    # the planted near-copies guarantee real pruning at 0.95, and a tighter
    # threshold can only shrink the removal set
    loose = {r.id for r in semdedup(corpus, n_cells=8, threshold=0.85).collect() if r.removed}
    tight = {r.id for r in semdedup(corpus, n_cells=8, threshold=0.95).collect() if r.removed}
    assert len(tight) >= 10 and tight <= loose
    # every planted near-copy pair loses exactly one member (they are
    # mutually ≥0.95 and nothing else in the fixture is): for each planted
    # id, precisely one of {original, copy} is in the removal set
    planted = {r.vec_id - 100_000 for r in rows if r.vec_id >= 100_000}
    for orig in planted:
        assert (orig in tight) != (100_000 + orig in tight), orig


def test_semdedup_keep_modes_and_plan(spark, sf_dir):
    from pulfa_sausage_factory_spark.operators.similarity import semdedup

    emb = _with_planted_dups(spark, sf_dir)
    rows = emb.collect()
    _, ref_removed = _semdedup_reference(rows, 8, 0.9, keep="high_centroid_sim")
    got = semdedup(emb, n_cells=8, threshold=0.9, keep="high_centroid_sim")
    assert {r.id for r in got.collect() if r.removed} == ref_removed
    # the pair stage must be an equi-join on cell_id (blocked quadratic),
    # never a shuffled cartesian; the centroid fan-out is broadcast
    plans.assert_no_cartesian(got)
    plans.assert_broadcast_join(got)
    with pytest.raises(ValueError, match="keep"):
        semdedup(emb, keep="nope")


def test_semdedup_auto_cells(spark, sf_dir):
    # n_cells="auto" = the √n rule via suggest_ann_config (round 7) —
    # identical verdicts to passing isqrt(n) explicitly (with centroids=
    # supplied, n_cells is ignored either way: their count IS the cells)
    import math

    from pulfa_sausage_factory_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings").limit(150).localCheckpoint()
    n = emb.count()
    auto = semdedup(emb, n_cells="auto", threshold=0.9).collect()
    explicit = semdedup(
        emb, n_cells=max(4, math.isqrt(n)), threshold=0.9
    ).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, explicit))


def test_semdedup_trained_centroids_compose(spark, sf_dir):
    # trained cells plug into the same pruning plan; every vector still gets
    # exactly one verdict row and removal stays deterministic across runs
    from pulfa_sausage_factory_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    cent = similarity.train_ivf_centroids(emb, n_cells=8, iters=1, sample_fraction=1.0)
    a = semdedup(emb, threshold=0.75, centroids=cent).collect()
    b = semdedup(emb, threshold=0.75, centroids=cent).collect()
    assert sorted((r.id, r.removed) for r in a) == sorted((r.id, r.removed) for r in b)
    assert len(a) == emb.count()


def test_knn_ivf_centroid_pick_is_take_ordered(spark, sf_dir):
    # the deterministic centroid pick is orderBy(id).limit(n) — it must
    # compile to TakeOrderedAndProject (per-partition k-heap + driver merge
    # of k*numPartitions rows), not a global sort
    emb = load_table(spark, sf_dir, "embeddings")
    df = similarity.knn_ivf(emb, emb.filter(F.col("vec_id") < 5), k=5)
    plans.assert_take_ordered(df)


def test_pq_encode_matches_numpy_reference(spark, sf_dir):
    # quantization codes pinned against the same numpy expressions the UDF
    # runs, over trained codebooks; training itself must be deterministic
    import numpy as np

    from pulfa_sausage_factory_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    cb = train_pq_codebooks(emb, m=8, n_codes=8, iters=2, sample_fraction=1.0)
    cb2 = train_pq_codebooks(emb, m=8, n_codes=8, iters=2, sample_fraction=1.0)
    assert sorted((r.sub, r.code, tuple(r.cent)) for r in cb.collect()) == \
        sorted((r.sub, r.code, tuple(r.cent)) for r in cb2.collect())

    rows = cb.orderBy("sub", "code").collect()
    m, n_codes, sublen = 8, 8, 8
    cbm = np.zeros((m, n_codes, sublen))
    for r in rows:
        cbm[r.sub, r.code] = r.cent
    got = {r.id: list(r.codes) for r in pq_encode(emb, cb).collect()}
    for r in emb.collect():
        x = np.asarray([float(v) for v in r.embedding]).reshape(m, 1, sublen)
        want = ((x - cbm) ** 2).sum(axis=-1).argmin(axis=-1)
        assert got[r.vec_id] == list(want), r.vec_id
    with pytest.raises(ValueError, match="subspaces"):
        train_pq_codebooks(emb, m=7)


def test_pq_adc_scores_and_recall(spark, sf_dir):
    # ADC top-k: scores must equal the lookup-table sums exactly, and
    # recall vs exact inner-product top-k must improve with codebook size
    import numpy as np

    from pulfa_sausage_factory_spark.operators.similarity import (
        knn_pq_adc,
        pq_encode,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    queries = emb.limit(6)
    vecs = {r.vec_id: [float(v) for v in r.embedding] for r in emb.collect()}
    qids = [r.vec_id for r in queries.select("vec_id").collect()]

    def seq_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    exact = {}
    for q in qids:
        scored = sorted(
            ((seq_dot(vecs[q], v), i) for i, v in vecs.items() if i != q),
            key=lambda t: (-t[0], t[1]),
        )
        exact[q] = {i for _, i in scored[:10]}

    recalls = {}
    for n_codes in (4, 32):
        cb = train_pq_codebooks(
            emb, m=8, n_codes=n_codes, iters=2, sample_fraction=1.0
        )
        codes = pq_encode(emb, cb)
        got = knn_pq_adc(codes, queries, cb, k=10)
        by_q = {}
        for r in got.collect():
            by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        recalls[n_codes] = sum(
            len(by_q.get(q, set()) & exact[q]) / 10 for q in qids
        ) / len(qids)

        # score exactness for one (query, neighbor): replay lut-sum
        cbrows = cb.orderBy("sub", "code").collect()
        cbm = {}
        for r in cbrows:
            cbm[(r.sub, r.code)] = list(r.cent)
        code_map = {r.id: list(r.codes) for r in codes.collect()}
        sample = got.limit(5).collect()
        for r in sample:
            qv = vecs[r.query_id]
            want = 0.0
            for sub in range(8):
                qs = qv[sub * 8 : (sub + 1) * 8]
                want = want + seq_dot(qs, cbm[(sub, code_map[r.neighbor_id][sub])])
            assert r.score == pytest.approx(round(want, 6), abs=2e-6)

    assert recalls[32] >= recalls[4]
    assert recalls[32] >= 0.2, recalls


def test_ivf_pq_composition(spark, sf_dir):
    # probing ALL cells removes the coarse pruning entirely, so IVF-PQ must
    # then equal plain full-corpus ADC bit-for-bit; with few probes it
    # returns a (possibly lossy) subset-ranking — and the plan stays
    # cartesian-free with the LUT side broadcast
    from pulfa_sausage_factory_spark.operators.similarity import (
        knn_ivf_pq,
        knn_pq_adc,
        pq_encode,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    queries = emb.limit(5)
    cb = train_pq_codebooks(emb, m=8, n_codes=16, iters=1, sample_fraction=1.0)

    full_adc = knn_pq_adc(pq_encode(emb, cb), queries, cb, k=10)
    all_probed = knn_ivf_pq(
        emb, queries, cb, k=10, n_cells=8, n_probe=8
    )
    a = sorted(map(tuple, full_adc.collect()))
    b = sorted(map(tuple, all_probed.collect()))
    assert a == b and len(a) == 50

    pruned = knn_ivf_pq(emb, queries, cb, k=10, n_cells=8, n_probe=2)
    plans.assert_no_cartesian(pruned)
    plans.assert_broadcast_join(pruned)
    got = pruned.collect()
    assert len(got) == 50
    # pruned candidates score identically where they overlap the full ADC
    full_scores = {(r.query_id, r.neighbor_id): r.score for r in full_adc.collect()}
    overlap = [r for r in got if (r.query_id, r.neighbor_id) in full_scores]
    assert overlap and all(
        r.score == full_scores[(r.query_id, r.neighbor_id)] for r in overlap
    )


def test_semdedup_arrow_impl_matches_expr(spark, sf_dir):
    # the per-cell numpy fast path must agree with the oracle-checked
    # expression mode on real data (planted dups included) — verdicts,
    # assignments, and rounded cent_sims all identical; validate impl arg
    from pulfa_sausage_factory_spark.operators.similarity import semdedup

    corpus = _with_planted_dups(spark, sf_dir, n=200)
    for threshold, keep in ((0.9, "low_centroid_sim"), (0.75, "high_centroid_sim")):
        e = sorted(map(tuple, semdedup(
            corpus, n_cells=8, threshold=threshold, keep=keep, impl="expr"
        ).collect()))
        a = sorted(map(tuple, semdedup(
            corpus, n_cells=8, threshold=threshold, keep=keep, impl="arrow"
        ).collect()))
        assert e == a
    cent = similarity.train_ivf_centroids(corpus, n_cells=8, iters=1,
                                          sample_fraction=1.0)
    e = sorted(map(tuple, semdedup(corpus, threshold=0.8, centroids=cent).collect()))
    a = sorted(map(tuple, semdedup(
        corpus, threshold=0.8, centroids=cent, impl="arrow"
    ).collect()))
    assert e == a
    with pytest.raises(ValueError, match="impl"):
        semdedup(corpus, impl="numpy")


def test_new_operator_plan_shapes(spark, sf_dir):
    # pq_encode is map-only (zero Exchange); materialize_packs moves each
    # token id exactly once (one Exchange); semdedup's arrow path is
    # narrow-assign + cell-keyed window/apply (bounded Exchanges, no
    # cartesian)
    from pulfa_sausage_factory_spark import plans
    from pulfa_sausage_factory_spark.functions import sampling
    from pulfa_sausage_factory_spark.operators.similarity import (
        pq_encode,
        semdedup,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    cb = train_pq_codebooks(emb, m=8, n_codes=4, iters=0, sample_fraction=1.0)
    plans.assert_no_exchange(pq_encode(emb, cb))

    df = spark.createDataFrame(
        [(1, 0, 0, [1, 2]), (2, 0, 0, [3])],
        "doc_id long, pack_id long, shard int, token_ids array<int>",
    )
    assert plans.count_exchanges(sampling.materialize_packs(df)) == 1

    sem = semdedup(emb, n_cells=4, threshold=0.9, impl="arrow")
    plans.assert_no_cartesian(sem)
    plans.assert_max_exchanges(sem, 3)


def test_hashed_text_embedding_drives_semdedup_from_raw_text(spark, sf_dir):
    # the no-model embedder: deterministic, near-copies land close in
    # cosine, unrelated texts do not — and the whole text → embed →
    # semdedup chain prunes the planted near-copy
    from pulfa_sausage_factory_spark.functions.vectors import (
        cosine,
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators.similarity import semdedup

    base = ("the quick brown fox jumps over the lazy dog near the wide "
            "river bank tonight while owls watch from the old oak tree")
    rows = [
        (1, base),
        (2, base.replace("tonight", "yesterday")),  # near-copy of 1
        (3, "completely different archival finding aid describing boxes "
            "of letters manuscripts and photographs from the collection"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    emb = df.select("doc_id", hashed_text_embedding("text").alias("embedding"))

    a = {r.doc_id: list(r.embedding) for r in emb.collect()}
    b = {r.doc_id: list(r.embedding) for r in emb.collect()}
    assert a == b  # deterministic across executions
    assert len(a[1]) == 64 and a[4] == [0.0] * 64

    nz = emb.filter(F.col("doc_id") != 4)  # ANSI: cosine(0-vector) divides by 0
    sims = (
        nz.alias("x").join(nz.alias("y"), F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("i"), F.col("y.doc_id").alias("j"),
            cosine(F.col("x.embedding"), F.col("y.embedding")).alias("cos"),
        )
        .collect()
    )
    s = {(r.i, r.j): r.cos for r in sims}
    assert s[(1, 2)] > 0.9 > s[(1, 3)]

    verdict = semdedup(
        df.select(F.col("doc_id").alias("vec_id"),
                  hashed_text_embedding("text").alias("embedding")),
        # n_cells=1: with 2 cells docs 1 and 2 would each BE a centroid
        # and land in separate cells, never compared — small-n artifact
        n_cells=1, threshold=0.9, impl="arrow",
    )
    removed = {r.id for r in verdict.collect() if r.removed}
    # exactly ONE of the near-copy pair loses (keep="low_centroid_sim"
    # keeps doc 2 — doc 1 IS the centroid, cent_sim 1.0, lowest priority);
    # the unrelated and empty docs survive
    assert removed == {1}


def test_pq_codebook_grid_validation(spark, sf_dir):
    # round-5 hardening: (a) training from a sample smaller than n_codes
    # fails loudly instead of emitting a sparse codebook, (b) pq_encode /
    # knn_pq_adc refuse non-dense codebooks instead of assigning phantom
    # zero centroids / indexing past the ADC LUT (silent NULL scores)
    from pulfa_sausage_factory_spark.operators.similarity import (
        knn_pq_adc,
        pq_encode,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="seed"):
        train_pq_codebooks(emb.limit(4), m=8, n_codes=8, sample_fraction=1.0)

    good = train_pq_codebooks(
        emb.limit(50), m=8, n_codes=4, iters=1, sample_fraction=1.0
    )
    sparse = good.filter(~((F.col("sub") == 3) & (F.col("code") == 2)))
    with pytest.raises(ValueError, match="dense"):
        pq_encode(emb.limit(10), sparse)
    # codes stamped by a DIFFERENT codebook now refuse on the carried
    # fingerprint first (round-7 — the more precise diagnosis: these codes
    # belong to another codebook, densifying `sparse` wouldn't fix it)...
    with pytest.raises(ValueError, match="carries codebook stamp"):
        knn_pq_adc(pq_encode(emb.limit(10), good), emb.limit(2), sparse)
    # ...while an UNSTAMPED codes table still hits the dense-grid guard
    unstamped = pq_encode(emb.limit(10), good).select(
        "id", F.transform("codes", lambda x: x).alias("codes")
    )
    with pytest.raises(ValueError, match="dense"):
        knn_pq_adc(unstamped, emb.limit(2), sparse)
    # the dense codebook passes through both consumers
    assert knn_pq_adc(
        pq_encode(emb.limit(30), good), emb.limit(2), good, k=3
    ).count() > 0


@pytest.mark.characterization  # RECALL.md floor re-measurement
# (round 15: opt-in tier — see pytest.ini; regenerate the figures
# with recall.py; the default driver-window run excludes this)
def test_documented_ann_configs_reach_recall_floor(spark):
    # RECALL.md's documented >=0.9 configurations, pinned. The corpus is
    # the text-embedding one (sf0.1 documents via hashed_text_embedding —
    # clustered geometry, the realistic case); everything in the chain is
    # hash-deterministic, so these recalls reproduce bit-for-bit.
    # sf0.1 specifically (not the sf_dir fixture): RECALL.md's floors were
    # measured on that corpus — overridable via env, principled skip when
    # the dir isn't present rather than an error.
    import os

    from pulfa_sausage_factory_spark.functions.vectors import (
        hashed_text_embedding,
    )
    from pulfa_sausage_factory_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf,
        knn_ivf_pq,
        knn_lsh,
        knn_pq_adc,
        knn_pq_rerank,
        pq_encode,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    sf01 = os.environ.get("SPARK_GRAFT_RECALL_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(sf01):
        pytest.skip(f"recall corpus dir missing: {sf01} "
                    "(set SPARK_GRAFT_RECALL_SF_DIR)")
    docs = load_table(spark, sf01, "documents")
    corpus = docs.select(
        F.col("doc_id").alias("vec_id"),
        hashed_text_embedding("text", dim=64).alias("embedding"),
    ).localCheckpoint()
    queries = corpus.filter(F.col("vec_id") < 50).localCheckpoint()

    truth: dict[int, set] = {}
    for r in knn_bruteforce(corpus, queries, k=10).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(df):
        got: dict[int, set] = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(
            len(got.get(q, set()) & t) / 10.0 for q, t in truth.items()
        ) / len(truth)

    # LSH, radius-2 multiprobe (documented 0.930)
    assert recall(knn_lsh(corpus, queries, k=10, probe_hamming=2)) >= 0.9
    # trained IVF, nprobe=8 of 16 (documented 0.972; iters=3 since round 6
    # — coarse convergence also feeds the residual family below)
    cents = train_ivf_centroids(
        corpus, n_cells=16, iters=3, sample_fraction=1.0
    )
    assert recall(
        knn_ivf(corpus, queries, k=10, n_cells=16, n_probe=8, centroids=cents)
    ) >= 0.9
    # PQ ADC shortlist + exact rerank (documented 0.958)
    cb = train_pq_codebooks(
        corpus, m=8, n_codes=256, iters=2, sample_fraction=1.0
    )
    assert recall(
        knn_pq_rerank(corpus, queries, cb, k=10, shortlist=200)
    ) >= 0.9
    # round 6 — residual (IVFADC) family. The composed cells+codes path
    # must BEAT full-scan ADC at nprobe=4 (probing 1/4 of the corpus with
    # residual codes outranks scanning all of it with raw codes — the
    # point of encoding residuals; documented 0.370 vs 0.358):
    cb_res = train_pq_codebooks(
        corpus, m=8, n_codes=256, iters=2, sample_fraction=1.0,
        centroids=cents,
    )
    codes_res = pq_encode(corpus, cb_res, centroids=cents)
    adc_full = recall(
        knn_pq_adc(pq_encode(corpus, cb), queries, cb, k=10)
    )
    ivfadc4 = recall(
        knn_ivf_pq(
            corpus, queries, cb_res, k=10, n_probe=4, centroids=cents,
            codes_df=codes_res,
        )
    )
    assert ivfadc4 > adc_full, (ivfadc4, adc_full)
    # ...and IVFADC shortlist + exact rerank is a documented ≥0.9 config
    # (0.936) — the complete FAISS IndexIVFPQ+RefineFlat serving recipe
    assert recall(
        knn_pq_rerank(
            corpus, queries, cb_res, k=10, shortlist=200,
            centroids=cents, n_probe=8, codes_df=codes_res,
        )
    ) >= 0.9
    # round 7 — the suggest_ann_config default (cells=√n=70, nprobe=17,
    # same ¼ probe fraction) beats the hand-set cells=16 IVFADC row AND
    # full-scan ADC on this corpus (documented 0.416 > 0.370 > 0.358) —
    # the untuned config is the best composed-path row in RECALL.md
    from pulfa_sausage_factory_spark.operators.similarity import (
        suggest_ann_config,
    )

    sug = suggest_ann_config(corpus.count())
    cents_sug = train_ivf_centroids(
        corpus, n_cells=sug["n_cells"], iters=3, sample_fraction=1.0
    )
    cb_sug = train_pq_codebooks(
        corpus, m=8, n_codes=256, iters=2, sample_fraction=1.0,
        centroids=cents_sug,
    )
    codes_sug = pq_encode(
        corpus, cb_sug, centroids=cents_sug, assign_impl="arrow"
    )
    ivfadc_auto = recall(
        knn_ivf_pq(
            corpus, queries, cb_sug, k=10, n_probe=sug["n_probe"],
            centroids=cents_sug, codes_df=codes_sug,
        )
    )
    assert ivfadc_auto > ivfadc4 > adc_full, (ivfadc_auto, ivfadc4, adc_full)
    # round 8 — the untuned default END-TO-END is a documented ≥0.9
    # config (0.954): the same auto-sized artifacts served through the
    # recommended two-stage path (knn_from_index: auto-probe IVFADC
    # shortlist → exact rerank at shortlist=200)
    from pulfa_sausage_factory_spark.operators import ann_index

    idx_auto = ann_index.index_from_artifacts(
        cb_sug, codes_sug, cents_sug, n_probe_suggested=sug["n_probe"]
    )
    assert recall(
        ann_index.knn_from_index(idx_auto, corpus, queries, k=10,
                                 shortlist=200)
    ) >= 0.9


def test_driver_query_fast_path_matches_distributed(spark, sf_dir, monkeypatch):
    """Round 15: the PQ serve path's driver-built probe/LUT/qv tables
    (`_collect_query_vectors` + `_driver_probe_lut`, below
    `_QUERY_DRIVER_MAX_ROWS`) must be BIT-IDENTICAL to the distributed
    query-side plan — the _py_* folds replicate the expression math's
    exact operation order, so full result tuples (scores included)
    compare equal. Pinned the twin-equality way: run once on the fast
    path, monkeypatch the cap to 0 to force the distributed path, and
    compare sorted collected rows for all three serve entry points."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.train_pq_codebooks(
        emb, m=4, n_codes=8, iters=1, sample_fraction=1.0
    )
    cb = cb.localCheckpoint()
    cents = similarity.train_ivf_centroids(emb, n_cells=4, iters=1)
    res_cb = similarity.train_pq_codebooks(
        emb, m=4, n_codes=8, iters=1, sample_fraction=1.0, centroids=cents
    ).localCheckpoint()
    # re-stamp memo lost by localCheckpoint? _small_rows collects lazily —
    # fine either way (one job per handle).
    queries = emb.limit(7)
    codes_raw = similarity.pq_encode(emb, cb)
    calls = [
        lambda: similarity.knn_pq_adc(codes_raw, queries, cb, k=5),
        lambda: similarity.knn_pq_rerank(emb, queries, cb, k=5, shortlist=20),
        lambda: similarity.knn_ivf_pq(
            emb, queries, res_cb, k=5, n_probe=2, centroids=cents
        ),
        lambda: similarity.knn_pq_rerank(
            emb, queries, res_cb, k=5, shortlist=20, centroids=cents,
            n_probe=2,
        ),
    ]
    fast = [sorted(tuple(r) for r in fn().collect()) for fn in calls]
    monkeypatch.setattr(similarity, "_QUERY_DRIVER_MAX_ROWS", 0)
    slow = [sorted(tuple(r) for r in fn().collect()) for fn in calls]
    for i, (f, s) in enumerate(zip(fast, slow)):
        assert f == s, f"serve call {i}: fast path diverged from distributed"
        assert len(f) > 0


def test_driver_fast_path_zero_norm_parity(spark, sf_dir, monkeypatch):
    """A zero-norm query vector or centroid makes the expression cosine
    divide by zero: Spark raises DIVIDE_BY_ZERO under ANSI and yields
    NULL without it. The driver fast path declines such inputs, so both
    paths agree in both modes — the same error with ANSI on, the same
    rows with it off — instead of the driver path crashing on its own
    ZeroDivisionError."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = len(emb.first().embedding)
    zero_q = spark.createDataFrame([(10**9, [0.0] * dim)], emb.schema)
    queries = emb.limit(5).unionByName(zero_q).localCheckpoint()
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        cents = similarity.train_ivf_centroids(
            emb, n_cells=4, iters=1
        ).localCheckpoint()
        cb = similarity.train_pq_codebooks(
            emb, m=4, n_codes=8, iters=1, sample_fraction=1.0,
            centroids=cents,
        ).localCheckpoint()
        cents_z = cents.unionByName(
            spark.createDataFrame([(99, [0.0] * dim)], cents.schema)
        ).localCheckpoint()
        cb_z = similarity.train_pq_codebooks(
            emb, m=4, n_codes=8, iters=1, sample_fraction=1.0,
            centroids=cents_z,
        ).localCheckpoint()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    calls = {
        "zero-norm query": lambda: similarity.knn_pq_rerank(
            emb, queries, cb, k=5, shortlist=20, centroids=cents, n_probe=2,
        ),
        "zero centroid": lambda: similarity.knn_pq_rerank(
            emb, emb.limit(5), cb_z, k=5, shortlist=20, centroids=cents_z,
            n_probe=2,
        ),
    }

    def outcome(fn):
        try:
            return sorted(tuple(r) for r in fn().collect())
        except Exception as exc:  # the outcome under test, not a failure
            return ("raised", "DIVIDE_BY_ZERO" in str(exc))

    def run_all():
        out = {}
        for ansi_on in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi_on)
            try:
                for name, fn in calls.items():
                    out[name, ansi_on] = outcome(fn)
            finally:
                spark.conf.set("spark.sql.ansi.enabled", ansi)
        return out

    monkeypatch.setattr(similarity, "_QUERY_DRIVER_MAX_ROWS", 1 << 20)
    fast = run_all()
    monkeypatch.setattr(similarity, "_QUERY_DRIVER_MAX_ROWS", 0)
    slow = run_all()
    for key in fast:
        assert fast[key] == slow[key], f"{key}: fast path diverged"
    for name in calls:
        assert slow[name, "true"] == ("raised", True)
        rows = slow[name, "false"]
        assert rows[0] != "raised" and len(rows) == (
            30 if name == "zero-norm query" else 25
        )
