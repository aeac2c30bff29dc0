"""Connected-component dedup clustering: min-label propagation converges to
the component minimum for chains, cycles, and disjoint parts."""

from __future__ import annotations

from pyspark.sql import functions as F

from pulfa_sausage_factory_spark.operators.dedup import dedup_clusters


def test_clusters_chain_cycle_disjoint(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # triangle 10-11-12, isolated pair 20-21
    edges = [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.canonical_id for r in dedup_clusters(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_simhash_banding_matches_bruteforce(spark, sf_dir):
    """Pigeonhole banding finds EXACTLY the pairs brute-force hamming
    finds within the budget (recall 1.0, no false positives post-verify)."""
    from pyspark.sql import functions as F

    from pulfa_sausage_factory_spark.io import load_table
    from pulfa_sausage_factory_spark.operators.dedup import (
        simhash64,
        simhash_neardup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").limit(200)
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect()
    }
    sims = simhash64(docs)
    brute = (
        sims.alias("a")
        .crossJoin(sims.alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("h"),
        )
        .filter(F.col("h") <= 3)
    )
    want = {(r.id_a, r.id_b): r.h for r in brute.collect()}
    assert got == want


def test_ngram_jaccard_pairs_leaves_nothing_cached(spark):
    # the function returns a lazy frame, so a block it cached could never
    # be released by anyone: after the pairs are collected, no persisted
    # RDD is left beyond those that existed before the call
    from pulfa_sausage_factory_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    docs = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "an unrelated sentence about telescope mirror coatings"),
    ], "doc_id long, text string")
    before = persisted()
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]
    assert persisted() <= before, persisted() - before


def test_ngram_jaccard_df_cap_preserves_result(spark, sf_dir):
    """Viral-shingle frequency cap: with a cap above the near-dup cluster
    size, the >=threshold pair set is unchanged — boilerplate shared by many
    documents carries no dedup signal, it only inflates the index bucket."""
    from pulfa_sausage_factory_spark.io import load_table
    from pulfa_sausage_factory_spark.operators.dedup import (
        ngram_jaccard_pairs,
        word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=4).collect()
    }
    assert capped == exact and exact

    # non-vacuous: the cap must actually drop shingles on this fixture
    from pyspark.sql import functions as F

    dfreq = (
        word_shingles(docs, "text", "doc_id")
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df").alias("mx"))
        .collect()[0]
    )
    assert dfreq.mx > 4


def test_cluster_loop_releases_superseded_checkpoints(spark, monkeypatch):
    # each round localCheckpoints a fresh label table; superseded rounds'
    # blocks must be freed eagerly or a long loop pins every round's full
    # snapshot until driver GC (unbounded storage growth at scale).
    # Gate forced to 0 so the DISTRIBUTED loop (the path this test pins)
    # runs despite the tiny fixture (round 14: small graphs solve locally)
    from pulfa_sausage_factory_spark.operators import dedup as _dedup

    monkeypatch.setattr(_dedup, "_CC_LOCAL_MAX_EDGES", 0)
    edges = [(2, 1), (2, 3), (3, 4), (4, 5), (5, 6)]  # chain: several rounds
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = dedup_clusters(pairs)
    assert out.count() == 6
    after = jsc.getPersistentRDDs().size()
    # only the final labels checkpoint may survive the loop
    assert after - before <= 1


def _line_dedup_reference(docs, min_dedup_chars=1):
    # straight-line Python model of C4-style first-occurrence line dedup
    seen = set()
    out = {}
    for doc_id, text in sorted(docs):
        kept, dropped = [], 0
        for line in text.split("\n"):
            norm = line.strip(" \t\n\x0b\f\r")  # ASCII \s, mirrors Spark
            if len(norm) < min_dedup_chars:
                kept.append(line)
                continue
            if norm in seen:
                dropped += 1
            else:
                seen.add(norm)
                kept.append(line)
        out[doc_id] = ("\n".join(kept), len(kept), dropped)
    return out


def test_corpus_line_dedup_matches_reference(spark):
    from pulfa_sausage_factory_spark.operators.dedup import dedup_corpus_lines

    docs = [
        (1, "unique first\nCopyright Notice\nbody of doc one"),
        (2, "Copyright Notice\nbody of doc two\n\nunique second"),
        (3, "body of doc one\nCopyright Notice\n\ntail"),
        (4, "Copyright Notice"),  # every line dropped -> empty clean_text
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_lines_kept, r.n_lines_dropped)
        for r in dedup_corpus_lines(df).collect()
    }
    assert got == _line_dedup_reference(docs)
    # empty lines are skew-exempt: kept everywhere, never deduped
    assert "\n\nunique second" in got[2][0]


def test_corpus_line_dedup_at_sf(spark, sf_dir):
    from pulfa_sausage_factory_spark.io import load_table
    from pulfa_sausage_factory_spark.operators.dedup import dedup_corpus_lines

    docs = load_table(spark, sf_dir, "documents")
    out = dedup_corpus_lines(docs)
    assert out.count() == docs.count()  # one row per document, always
    # two shuffles total: line-hash window + doc rebuild (scale contract)
    from pulfa_sausage_factory_spark.plans import audit

    assert audit.count_exchanges(out) == 2


def test_corpus_line_dedup_randomized_equality(spark):
    import random

    from pulfa_sausage_factory_spark.operators.dedup import dedup_corpus_lines

    rng = random.Random(20260813)
    pool = [f"line {i}" for i in range(30)] + ["", "   ", "\tunique-ish"]
    docs = [
        (i, "\n".join(rng.choice(pool) for _ in range(rng.randint(1, 12))))
        for i in range(100)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_lines_kept, r.n_lines_dropped)
        for r in dedup_corpus_lines(df).collect()
    }
    assert got == _line_dedup_reference(docs)


def test_corpus_line_dedup_null_text_and_collision_key(spark):
    from pulfa_sausage_factory_spark.operators.dedup import dedup_corpus_lines

    docs = [(1, "shared line\nown line"), (2, None), (3, "shared line")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_lines_kept, r.n_lines_dropped)
        for r in dedup_corpus_lines(df).collect()
    }
    # NULL text behaves as an empty doc and still yields a row
    assert got[2] == ("", 0, 0)
    assert got[1] == ("shared line\nown line", 2, 0)
    assert got[3] == ("", 0, 1)


def test_minhash_lsh_recall_and_precision_vs_exact(spark, sf_dir):
    # the 64-bit rolling shingle hash must track exact string-shingle
    # jaccard: the earlier 32-bit shingle space collapsed distinct shingles
    # at corpus scale (1M+ collision-born false pairs at 500k docs)
    from pulfa_sausage_factory_spark.io import load_table
    from pulfa_sausage_factory_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    approx = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert exact, "fixture must contain near-dup pairs"
    recall = len(exact & approx) / len(exact)
    precision = len(exact & approx) / max(len(approx), 1)
    assert recall >= 0.95, (recall, len(exact), len(approx))
    assert precision >= 0.95, (precision, len(exact), len(approx))


def test_spread_for_arrow_guard_semantics(spark):
    # the re-spread guard (round 5): pathologically under-partitioned
    # inputs fan out to defaultParallelism before an Arrow stage; inputs
    # already at >= cores/4 partitions pass through UNCHANGED (the
    # cluster-scale case must stay zero-added-shuffle), and inputs the
    # optimizer estimates tiny (oracle-check tables, micro-batches) stay
    # put too — one Arrow batch beats a shuffle + worker fan-out there
    from pulfa_sausage_factory_spark.operators.dedup import (
        spread_for_arrow as _spread_for_arrow,
    )

    target = spark.sparkContext.defaultParallelism
    thin = spark.range(1000).coalesce(1)
    # thin AND big-enough (size floor disabled) → fans out
    spread = _spread_for_arrow(thin, min_bytes=0)
    assert spread.rdd.getNumPartitions() == target
    assert spread.count() == 1000

    # thin but tiny (default 256 KiB floor; 1000 longs ≈ 8 KB) → untouched
    assert _spread_for_arrow(thin).rdd.getNumPartitions() == 1

    wide_n = max(target, (target // 4) + 1)
    wide = spark.range(1000).repartition(wide_n)
    kept = _spread_for_arrow(wide, min_bytes=0)
    # identity pass-through proves no repartition was inserted (round-6
    # fix: the old "'Repartition' not in plan or kept is wide" disjunction
    # was vacuously true on the pass-through path)
    assert kept is wide

    # shuffle-rooted plans pass through WITHOUT the .rdd partition probe
    # (round-6 ADVICE fix: .rdd under AQE materializes every upstream query
    # stage just to answer getNumPartitions() — the guard would run the
    # aggregation twice). Identity return is the observable contract: the
    # probe can only be skipped if the function bails before it.
    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    assert _spread_for_arrow(agg, min_bytes=0) is agg
    joined = spark.range(100).join(spark.range(50), "id")
    assert _spread_for_arrow(joined, min_bytes=0) is joined

    # ...but a narrow coalesce (Repartition shuffle=false — the collapsed-
    # parallelism shape the helper exists to fix) still spreads
    assert (
        _spread_for_arrow(spark.range(1000).coalesce(1), min_bytes=0)
        .rdd.getNumPartitions()
        == target
    )

    # expression text can never match operator names (round-7 ADVICE fix:
    # the guard walks plan-node names now, not the stringified plan — a
    # column aliased 'Join'/'Sort' printed as 'Project [id AS Join#12]'
    # used to regex-match the shuffle bail and silently skip the spread
    # for a genuinely collapsed plan)
    tricky = (
        spark.range(1000)
        .coalesce(1)
        .select(F.col("id").alias("Join"), (F.col("id") % 3).alias("Sort"))
    )
    assert (
        _spread_for_arrow(tricky, min_bytes=0).rdd.getNumPartitions()
        == target
    )

    # limit-rooted narrow plans are KNOWN-collapsed (GlobalLimit runs on
    # one partition): no .rdd probe (that would execute the limit twice),
    # straight to the size floor — big limits spread, tiny ones stay
    big_lim = spark.range(100_000).limit(50_000)
    assert _spread_for_arrow(big_lim, min_bytes=0).rdd.getNumPartitions() == target
    assert _spread_for_arrow(spark.range(1000).limit(5)).rdd.getNumPartitions() == 1

    # ...and a limit ABOVE a shuffle is still collapsed — the GlobalLimit
    # check must win over the shuffle-node bail (limit-over-join runs on
    # one partition despite the Join in its plan)
    lim_join = (
        spark.range(50_000).join(spark.range(50_000), "id").limit(40_000)
    )
    assert (
        _spread_for_arrow(lim_join, min_bytes=0).rdd.getNumPartitions()
        == target
    )


def test_contamination_twins_identical(spark, sf_dir):
    """Hot-path-twin pin (round 14): ``contamination_pairs`` expr ≡ arrow
    — identical (train_id, bench_id, shared) rows over real corpus text
    plus edge shapes (below-n docs emit nothing, NULL text, case folding,
    repeated shingles collapse via the per-doc distinct)."""
    import pytest

    from pulfa_sausage_factory_spark.io import load_table
    from pulfa_sausage_factory_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    crafted = spark.createDataFrame(
        [
            (1_000_001, None),
            (1_000_002, ""),
            (1_000_003, "one two"),  # below n=3 tokens → no shingles
            (1_000_004, "One TWO three one two THREE one two three"),
            (1_000_005, "one two three one two three"),  # distinct collapse
        ],
        ["doc_id", "text"],
    )
    train = docs.unionByName(crafted)
    bench = train.limit(200).unionByName(crafted)
    for min_shared in (1, 5):
        a = dedup.contamination_pairs(train, bench, min_shared=min_shared)
        b = dedup.contamination_pairs(
            train, bench, min_shared=min_shared, impl="arrow"
        )
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, (
            f"expr/arrow contamination twins diverge at min_shared={min_shared}"
        )
    with pytest.raises(ValueError, match="impl"):
        dedup.contamination_pairs(train, bench, impl="nope")


def test_cc_local_fast_path_matches_distributed(spark, monkeypatch):
    """Round-14 fast-path pin: the driver-local union-find (edge count at
    or below ``_CC_LOCAL_MAX_EDGES``) and the distributed propagation loop
    produce identical (doc_id, canonical_id) labelings — chains past the
    broadcast of one round, cycles, self-loops, duplicate/reversed edges,
    and a pseudo-random component mix."""
    import random

    from pulfa_sausage_factory_spark.operators import dedup as _dedup

    rng = random.Random(14)
    edges = [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10),
             (20, 21), (21, 20), (30, 30)]
    # pseudo-random extra components with long chains
    base = 100
    for comp in range(20):
        ids = [base + comp * 50 + i for i in range(rng.randint(2, 30))]
        rng.shuffle(ids)
        edges += list(zip(ids, ids[1:]))
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    local = {(r.doc_id, r.canonical_id) for r in _dedup.dedup_clusters(pairs).collect()}
    monkeypatch.setattr(_dedup, "_CC_LOCAL_MAX_EDGES", 0)
    dist = {(r.doc_id, r.canonical_id) for r in
            _dedup.dedup_clusters(pairs, max_iterations=60).collect()}
    assert local == dist and local

    # string ids: Python and Spark must agree on the min ordering
    spairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    monkeypatch.setattr(_dedup, "_CC_LOCAL_MAX_EDGES", 500_000)
    got = {r.doc_id: r.canonical_id for r in _dedup.dedup_clusters(spairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_minhash_lsh_pairs_prebuilt_sigs_identical(spark, sf_dir):
    """The ``sigs=`` reuse path (round 14: the ingest computes ONE
    signature pass and shares it between pair generation and the sigs/
    ledger write) must emit exactly the pairs the self-building path
    emits — same ids, same est_jaccard."""
    from pulfa_sausage_factory_spark.io import load_table
    from pulfa_sausage_factory_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.2).collect()
    }
    sigs = minhash_signatures(docs)
    reused = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.2, sigs=sigs).collect()
    }
    sigs.unpersist()
    assert base, "fixture must contain candidate pairs"
    assert reused == base


def test_lsh_bcast_gate_flip_fallback_equality(spark, sf_dir, monkeypatch):
    """``minhash_lsh_pairs`` picks its banded self-join strategy from a
    materialized count: broadcast at or below ``_LSH_BCAST_MAX_UNITS``,
    a merge hint above. Pin both directions equal — the same pairs and
    est_jaccard with the gate forced shut (cap 0) — and pin that each
    run took the join the gate chose."""
    from pulfa_sausage_factory_spark.io import load_table
    from pulfa_sausage_factory_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")

    def run():
        df = dedup.minhash_lsh_pairs(docs, threshold=0.2)
        pairs = {(r.id_a, r.id_b): r.est_jaccard for r in df.collect()}
        return pairs, df._jdf.queryExecution().executedPlan().toString()

    bcast, bcast_plan = run()
    monkeypatch.setattr(dedup, "_LSH_BCAST_MAX_UNITS", 0)
    merge, merge_plan = run()
    assert bcast, "fixture must contain candidate pairs"
    assert merge == bcast
    assert "BroadcastHashJoin" in bcast_plan
    assert "SortMergeJoin" in merge_plan
    assert "BroadcastHashJoin" not in merge_plan
