"""Deduplication operators (SURVEY.md §2.l X1/X2) — exact, n-gram Jaccard,
MinHash+LSH, SimHash (+ hamming banding), connected-component clustering.

Scale design (100 TB):
- Exact dedup is one hash-shuffle on the digest (never on the full text —
  group keys stay short).
- N-gram Jaccard never cross-joins: candidate pairs come from an inverted
  shingle index (explode → self-join on shingle), which is the classic
  "prefix filtering" shape; the shingle join key distributes uniformly.
- MinHash LSH buckets by band signature: only same-bucket pairs are
  compared, so the pair count is output-sensitive, not O(n²).
- SimHash reduces each doc to one 64-bit int; near-dup candidates share a
  rotated prefix (here: exact-match grouping as the first cut).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import release_local_checkpoint as _release_local_checkpoint

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """X1 — keep the lowest-id row per distinct text. Grouping key is
    ``md5(text)`` so the shuffle moves digests, not documents; md5 (not
    xxhash64) so the DuckDB oracle reproduces it. Generalizes the
    reference's checksum surface (bin/dao.py:12-17) + J5 skip-guards."""
    return _first_per_digest(
        df.withColumn("_digest", F.md5(F.col(text_col))), id_col
    ).drop("_digest")


def _first_per_digest(df: DataFrame, id_col: str) -> DataFrame:
    """:func:`exact_dedup`'s window over a frame that already carries the
    ``_digest`` column; keeps it, so a caller that needs the digest
    afterwards (the ingest's digest ledger) hashes the text once."""
    w = Window.partitionBy("_digest").orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def word_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    r"""Distinct word n-gram shingles per document: (id, shingle).

    Plain single-space split (the corpus delimiter contract, and what the
    DuckDB oracle's ``str_split(lower(text), ' ')`` does) — the regex
    ``\s+`` tokenizer measured ~14x slower on the shingle path."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    # shingle i = tokens[i..i+n-1] joined; guard: docs shorter than n tokens
    # produce no shingles (sequence(1,0) would count *down* in Spark).
    shingles = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """X2 (exact variant) — all pairs with n-gram-shingle Jaccard >=
    threshold, via an inverted shingle index instead of a cross join:

        explode shingles → self-join on shingle (id_a < id_b)
        → count shared → |A∩B| / (|A|+|B|-|A∩B|)

    Scale: the shingle join is the only shuffle; candidate generation is
    output-sensitive — EXCEPT for viral shingles (boilerplate headers,
    license blurbs) whose inverted-index bucket self-joins quadratically.
    ``max_shingle_df`` caps that: shingles appearing in more than that many
    documents are dropped from the index *and* from the per-doc sizes, so
    Jaccard is computed consistently over the capped shingle universe.
    Shared boilerplate carries no dedup signal (it is shared by
    construction), so with a cap well above the near-dup cluster size the
    >=threshold result set is unchanged (asserted on the test fixture);
    ``None`` (default) is the exact all-shingles computation.

    Nothing is cached: the result is a lazy frame, so a persist made here
    could never be released. The self-join's two sides read one reused
    exchange; only the per-doc sizes derive the shingles a second time.
    """
    sh = word_shingles(df, text_col, id_col, n)
    if max_shingle_df is not None:
        # One count-over-window pass keyed the same as the self-join below,
        # so the exchange is reused — the cap costs no extra shuffle.
        w_df = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(w_df))
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: The MinHash format: signature length, LSH band count, shingle length
#: (tokens) and permutation seed. It is persisted — the incremental
#: ingest's ``sigs/`` and ``bands/`` ledgers hold signatures and band keys
#: computed under it, and every later batch probes them — so
#: :func:`minhash_lsh_pairs` and the ingest's neardup leg both read it,
#: and :func:`_lsh_buckets` / :func:`_sig_agreement`, from here. The x2b
#: oracle SQL (queries.py) keeps its own literals as the independent
#: check on these values.
_NUM_HASHES, _BANDS, _SHINGLE_N, _SEED = 32, 8, 3, 42


def _lsh_buckets(sig) -> Column:
    """The ``_BANDS`` LSH bucket keys of a signature column: ``xxhash64``
    of (band number, that band's slice of the signature)."""
    rows = _NUM_HASHES // _BANDS
    return F.array(*[
        F.xxhash64(F.lit(b), F.slice(sig, b * rows + 1, rows))
        for b in range(_BANDS)
    ])


def _sig_agreement(a: Column, b: Column) -> Column:
    """Estimated Jaccard of two signature columns: the share of the
    ``_NUM_HASHES`` positions on which they agree."""
    return F.size(F.filter(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        lambda v: v == 1,
    )).cast("double") / F.lit(float(_NUM_HASHES))


#: odd multipliers/offsets for permutation hashing, derived from a fixed LCG
#: so signatures are deterministic across runs/partitions.
def _perm_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    # 31-bit params: a*h+b stays under 2^63 for 31-bit h, so the affine map
    # never overflows a long (Spark 4 runs ANSI mode — overflow would throw)
    state = seed or 1
    out = []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state >> 33) | 1  # odd 31-bit multiplier
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state >> 33
        out.append((a, b))
    return out


#: odd 64-bit position multipliers for the rolling shingle combine —
#: distinct per slot so "a b c" and "c b a" hash differently
_SHINGLE_POS_MULT = (0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                     0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63)


def _minhash_sig_udf():
    """Arrow-batched pandas UDF: text → array<long> minhash signature.

    Tokenize, hash each DISTINCT token once (md5-low-32 — like
    ``exact_dedup``, md5 rather than a faster non-cryptographic hash so
    the DuckDB oracle can reproduce the whole signature chain bit-for-bit;
    the dict cache amortizes it across the batch — corpus vocabulary ≪
    token stream), then form each n-token shingle's 64-bit hash as a
    position-weighted rolling combine of the token hashes (numpy slicing,
    uint64 wraparound) and run all ``_NUM_HASHES`` affine permutations as
    one broadcast min-reduce.
    Profiled at 500k docs: building shingle STRINGS and hashing them
    dominated the old signature pass (~45 s); the rolling combine needs no
    per-shingle string at all. The shingle hash only has to be a uniform
    hash of the ordered n-token window — position multipliers keep it
    order-sensitive. Replaces the earlier pure-expression version too
    (Spark runs HOF lambdas interpreted: 32 passes over every shingle
    array cost ~5 s at sf0.1 vs sub-second here). At cluster scale the UDF
    stays embarrassingly parallel (per-batch numpy, no cross-task state),
    so the tradeoff holds at 100 TB, not just locally."""
    import hashlib

    import numpy as np
    import pandas as pd

    params = np.array(_perm_params(_NUM_HASHES, _SEED), dtype=np.uint64)
    a = params[:, 0][:, None]
    b = params[:, 1][:, None]
    n = _SHINGLE_N
    pos_mult = np.array(_SHINGLE_POS_MULT[:n], dtype=np.uint64)
    md5 = hashlib.md5

    def sig(text):
        out = []
        tok_cache: dict[str, int] = {}
        cached_hash = tok_cache.get
        for t in text:
            toks = t.lower().split(" ")
            L = len(toks)
            if L < n:
                out.append(None)
                continue
            tc = np.empty(L, dtype=np.uint64)
            for j, tok in enumerate(toks):
                v = cached_hash(tok)
                if v is None:
                    # == int(md5 hexdigest[:8], 16): oracle-reproducible
                    v = int.from_bytes(md5(tok.encode("utf-8")).digest()[:4], "big")
                    tok_cache[tok] = v
                tc[j] = v
            h = tc[: L - n + 1] * pos_mult[0]
            for i in range(1, n):
                h = h + tc[i : L - n + 1 + i] * pos_mult[i]  # uint64 wrap
            h = np.unique(h)  # distinct shingles, same as the old set()
            mins = (a * h[None, :] + b).min(axis=1)  # uint64 wraparound
            out.append((mins >> np.uint64(1)).astype(np.int64))
        return pd.Series(out)

    # module uses `from __future__ import annotations` (string hints), which
    # pandas_udf's type-hint inference can't resolve — bind real objects
    sig.__annotations__ = {"text": pd.Series, "return": pd.Series}
    return F.pandas_udf(sig, "array<long>")


def spread_for_arrow(
    df: DataFrame, min_bytes: int = 256 << 10
) -> DataFrame:
    """Re-spread a pathologically under-partitioned input before an
    expensive Arrow-batched stage.

    Parallelism normally follows source partitioning (the session splits
    file scans at ``spark.sql.files.maxPartitionBytes``), but a
    single-row-group parquet file is UNSPLITTABLE — the whole signature
    pass then runs as one task on one core while 31 sit idle (measured:
    the sf0.1 minhash signatures take 2.7 s on 1 partition vs 0.6 s
    spread; this was the bulk of x2b's cold time, misattributed to UDF
    bootstrap). Two-sided guard:

    - partition count: only inputs with ≤ cores/4 partitions
      pay the one text-sized shuffle. At cluster scale, splittable
      sources already exceed ``defaultParallelism`` and this is a no-op —
      the 100 TB plan keeps zero added shuffles.
    - estimated size: inputs the optimizer estimates below ``min_bytes``
      (tiny oracle-check tables, streaming micro-batches) stay put — for
      a few hundred rows, ONE Arrow batch beats a shuffle plus a
      32-task/32-python-worker fan-out. Unknown-size plans estimate huge
      and spread, which is the safe direction.

    The partition probe only runs on SHUFFLE-FREE plans (narrow lineage
    over a scan / localCheckpoint / in-memory relation): ``df.rdd`` under
    AQE materializes every upstream query stage just to answer
    ``getNumPartitions()`` — the guard would execute expensive work once
    for the check and again for the real action. A plan that already
    contains a shuffle (join/agg/sort/window/repartition/distinct) cannot
    be pathologically under-partitioned by an unsplittable source file —
    the shuffle re-spreads it to ``spark.sql.shuffle.partitions`` (AQE
    may coalesce small outputs, but small is exactly what the size floor
    keeps un-spread) — so those plans pass through untouched. (Known
    limitation: a BROADCAST-join output inherits its stream side's
    partitioning, which the logical plan can't distinguish from a shuffle
    join — callers feeding a broadcast join over an unsplittable scan
    should spread the scan side before joining.) A ``limit``-rooted
    narrow plan is KNOWN-collapsed (GlobalLimit executes on one
    partition), so it skips the probe entirely — probing would execute
    the limit once for the check and again for the action — and goes
    straight to the size floor.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Walk the optimized logical plan's NODE NAMES (round-7 ADVICE fix:
    # the previous word-boundary regex over the stringified plan could
    # false-positive on a column/alias literally named Join/Sort/Window —
    # 'Project [Join#12]' matched — and the 'Repartition n, true' textual
    # form is Spark-version-sensitive; tree-walking nodeName() means
    # expression text can never match an operator name).
    try:
        stack = [df._jdf.queryExecution().optimizedPlan()]
        has_limit = has_shuffle = False
        shuffle_nodes = {
            "Join", "Aggregate", "Sort", "Window", "Deduplicate",
            "Intersect", "Except", "CoGroup", "RepartitionByExpression",
        }
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if name == "GlobalLimit":
                has_limit = True
            elif name in shuffle_nodes:
                has_shuffle = True
            elif name == "Repartition":
                # logical Repartition covers both repartition(n)
                # (shuffle=true) and coalesce(n) (shuffle=false); only the
                # narrow coalesce stays probe-able — it IS the
                # collapsed-parallelism shape this helper exists to fix
                try:
                    if node.shuffle():
                        has_shuffle = True
                except Exception:  # can't tell → conservative: no probe
                    has_shuffle = True
            ch = node.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
            try:  # subquery plans live in expressions, not children
                sub = node.subqueries()
                for i in range(sub.size()):
                    stack.append(sub.apply(i))
            except Exception:
                pass
    except Exception:  # plan unavailable → don't risk the .rdd probe
        return df
    # a GlobalLimit ANYWHERE collapses everything above it to one
    # partition — even over a shuffle below, so it wins over the
    # shuffle-node bail (a limit-over-join plan is collapsed despite
    # containing a Join) and goes straight to the size floor
    if not has_limit:
        if has_shuffle:
            return df
        if df.rdd.getNumPartitions() * 4 > target:
            return df
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # stats unavailable → assume big (spread)
        est = 1 << 62
    if est < min_bytes:
        return df
    return df.repartition(target)


def _minhash_sig_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The un-materialized MinHash signature frame ``(id, sig)`` — the
    shared plan both :func:`minhash_signatures` (which persists it) and
    :func:`minhash_lsh_pairs`'s internal path (which does not) build, so
    the two stay plan-identical and the CacheManager can serve one's
    persist to the other. An under-partitioned input is re-spread first
    (:func:`spread_for_arrow`; tiny inputs stay put)."""
    return (
        spread_for_arrow(df)
        .select(
            F.col(id_col).alias("id"),
            _minhash_sig_udf()(text_col).alias("sig"),
        )
        .filter(F.col("sig").isNotNull())
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The materialized MinHash signature cache ``(id, sig)``, in the
    format of :data:`_NUM_HASHES` and :data:`_SHINGLE_N`, for callers
    that consume the signatures MORE THAN ONCE outside a single self-join
    (bench's cache build pre-fills the plan-identical persist the x2b
    query then hits via the CacheManager). A pipeline that checkpoints
    its input anyway (the incremental ingest) computes the signatures as
    a column of that checkpoint instead and passes them to
    :func:`minhash_lsh_pairs` as ``sigs``.

    The cache is persisted MEMORY_AND_DISK (~8·``_NUM_HASHES`` bytes per
    doc: at 100 TB the set can exceed executor memory, and degrading to
    local disk beats silent eviction + recompute of the Arrow-batched
    signature UDF). The eager count() fills it before any consumer is
    planned, so the planner sees the signatures' REAL size — small
    corpus → broadcast join, big corpus → sort-merge (round-6 lesson: an
    UNFILLED InMemoryRelation's optimistic size estimate baited a
    corpus-sized broadcast; the 4 GiB stress run died in
    notEnoughMemoryToBuildAndBroadcastTable). Single-shot pair generation
    no longer needs this materialization: ``minhash_lsh_pairs`` with
    ``sigs=None`` picks its join strategy explicitly from a row count
    (round-15, the payload-aware count-gate convention) instead of
    baiting AQE with cache stats.
    """
    from pyspark import StorageLevel

    sigs = _minhash_sig_frame(df, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs.count()
    return sigs


#: payload-aware broadcast gate for ``minhash_lsh_pairs``'s banded
#: self-join (1 unit ≈ 8 B): the broadcast side carries ``_BANDS`` rows
#: per doc of (id, ``_NUM_HASHES``-long sig, bucket), so units =
#: n_docs × _BANDS × (_NUM_HASHES + 2) — ≤ 8M units ≈ 64 MB built relation.
#: Same convention as the ingest's _SCAN_STATE_BCAST_MAX_UNITS: the gate
#: decides off a MATERIALIZED count, never Catalyst's explode estimates
#: (round-6: an amplified 100× frame estimated SMALLER than its base).
_LSH_BCAST_MAX_UNITS = 8_000_000


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    sigs: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """X2 — MinHash + banded LSH near-dup candidates, verified by estimated
    Jaccard (signature agreement rate, :func:`_sig_agreement`).

    shingle → 32 minhashes → 8 bands of 4 → explode bands → group by
    (band, band-signature) → same-bucket pairs → signature-Jaccard filter
    (the format of :data:`_NUM_HASHES`, fixed for every caller).

    Scale: no cross join anywhere; bucket sizes are the only skew surface
    (identical boilerplate docs), handled by AQE skew-join splitting. This is
    the 100-TB path; ``ngram_jaccard_pairs`` is the exact oracle-checkable
    baseline.

    ``sigs`` reuses prebuilt ``(id, sig)`` signatures — a
    :func:`minhash_signatures` frame, or a projection of a checkpoint
    that carries them as a column computed by :func:`_minhash_sig_udf` —
    so a pipeline that ALSO needs the signatures as a stage artifact (the
    incremental ingest writes them to its ``sigs/`` ledger) tokenizes and
    hashes each document ONCE instead of twice (the Python boundary is
    paid once per datum).

    With ``sigs=None`` (round-15): the signature frame is NOT persisted —
    the join strategy is chosen explicitly from a materialized row count
    instead of filling a cache so AQE sees real stats (the round-6
    stats-fill, obsoleted by the payload-aware count-gate convention).
    ``n_rows`` is that count when the caller already holds one (e.g.
    run_curation's per-stage report counts); otherwise one column-pruned
    ``df.count()`` pays for it. Below :data:`_LSH_BCAST_MAX_UNITS` the
    banded build side broadcasts (zero Exchange; the probe side
    re-evaluates the signature UDF — cheap exactly where the gate admits
    it); above, an explicit merge hint keeps the sort-merge join whose
    single exchange both sides share via reuse (one UDF pass at scale) —
    explicit because Catalyst's explode estimates would otherwise bait a
    corpus-sized broadcast (round-6 OOM class).
    """
    lsh_broadcast: bool | None = None
    if sigs is None:
        if n_rows is None:
            # column-pruned count — never evaluates the signature UDF
            n_rows = df.count()
        sigs = _minhash_sig_frame(df, text_col, id_col)
    if n_rows is not None:
        # explicit strategy whenever the caller's (or our) materialized
        # count is available; a prebuilt persisted+counted ``sigs`` with
        # no ``n_rows`` keeps the accurate-stats planner choice instead
        lsh_broadcast = (
            n_rows * _BANDS * (_NUM_HASHES + 2) <= _LSH_BCAST_MAX_UNITS
        )
    # bucket key = hash of (band, band-slice of the signature). The signature
    # rides along through the explode: ~bands × 8·num_hashes bytes per doc of
    # extra shuffle, which buys back two join-backs + a distinct (4 shuffles
    # → 2). At 100 TB the band self-join is the scale bottleneck either way;
    # shipping 256-byte sigs with it is the cheaper side of the trade.
    banded = sigs.select("id", "sig", F.explode(_lsh_buckets("sig")).alias("bucket"))
    build = banded.alias("b")
    if lsh_broadcast is True:
        build = F.broadcast(build)
    elif lsh_broadcast is False:
        build = build.hint("merge")
    return (
        banded.alias("a")
        .join(build, "bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _sig_agreement(F.col("a.sig"), F.col("b.sig")).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        # a pair collides in as many bands as agree — collapse duplicates
        .groupBy("id_a", "id_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """X2 — 64-bit SimHash per document: per-token 64-bit hash, sum each
    bit's ±1 votes, sign → bit. One narrow Arrow-batched pass, no shuffle.

    Vectorized numpy UDF for the same reason as the minhash signatures: the
    pure-expression form (64 interpreted ``aggregate`` folds over the token
    hashes, outside whole-stage codegen) cost ~2 s per 5k docs; the numpy
    bit-matrix vote is ~50× cheaper and scales per-batch on executors.
    Token hash is md5-high-64 (oracle-reproducible, like the minhash
    signatures), cached per distinct token per batch."""
    import hashlib

    import numpy as np
    import pandas as pd

    shifts = np.arange(64, dtype=np.uint64)

    powers = (np.uint64(1) << shifts).astype(np.uint64)
    md5 = hashlib.md5

    def sim(text):
        out = []
        # 64-bit token hash cached per batch: the vocabulary is orders of
        # magnitude smaller than the token stream, so the md5 call per
        # token amortizes to near-zero (same trick as the minhash UDF)
        tok_cache: dict[str, int] = {}
        cached = tok_cache.get
        for t in text:
            toks = {w for w in t.lower().split()} - {""}
            if not toks:
                out.append(0)
                continue
            h = np.empty(len(toks), dtype=np.uint64)
            for j, w in enumerate(toks):
                v = cached(w)
                if v is None:
                    # == int(md5 hexdigest[:16], 16): oracle-reproducible
                    v = int.from_bytes(md5(w.encode("utf-8")).digest()[:8], "big")
                    tok_cache[w] = v
                h[j] = v
            bits = (h[:, None] >> shifts[None, :]) & np.uint64(1)
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            sim_bits = powers[votes > 0].sum(dtype=np.uint64)
            out.append(int(sim_bits.astype(np.int64)))
        return pd.Series(out)

    sim.__annotations__ = {"text": pd.Series, "return": pd.Series}
    sim_udf = F.pandas_udf(sim, "long")
    return spread_for_arrow(df).select(
        F.col(id_col).alias("id"), sim_udf(text_col).alias("simhash")
    )


#: directed-edge count at or below which ``dedup_clusters`` solves the
#: component labels with a driver-local union-find instead of the
#: distributed propagation loop (round 14, guide §2.4/§5): each loop
#: round costs a shuffle join + localCheckpoint + count — pure scheduling
#: overhead when the edge set is thousands of rows (near-dup pair sets
#: are output-sensitive and tiny relative to the corpus; the 100× stress
#: corpus yields 25.6k pairs). The gate is a COUNT over the already
#: materialized edge checkpoint, so the collect is provably bounded
#: (≤ ~16 MB of id pairs) — this is the GraphFrames-style small-graph
#: fast path, not an unbounded driver loop; above the gate the
#: distributed loop runs unchanged.
_CC_LOCAL_MAX_EDGES = 500_000


def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """X1/X2 follow-through — connected-component clustering of near-dup
    pairs: every document in a component maps to the component's minimum id
    (the canonical survivor an LLM-data pipeline keeps).

    Iterative min-label propagation: each round joins every vertex's label
    with its neighbors' labels and keeps the minimum; converges in
    O(diameter) rounds. The driver loop only orchestrates — data never
    leaves the cluster; each round is one join + one aggregation, and the
    loop exits via a distributed short-circuit (count of changed labels).
    This is the standard scalable formulation (GraphX/GraphFrames use the
    same shape); near-dup components are shallow in practice, so rounds
    stay single-digit.

    Each round's labels are ``localCheckpoint``-ed, not cached: a cache
    keeps the full lineage, so the logical plan (and with it optimizer
    time, and the recompute cost of any evicted partition) grows with
    every iteration — measured at 600+ Exchange nodes in the final plan
    before the fix. Checkpointing truncates lineage, keeping the per-round
    plan constant-size; at 100 TB swap ``localCheckpoint`` for a
    reliable ``checkpoint`` dir (``spark.sparkContext.setCheckpointDir``)
    if executor loss during the loop must be survivable. Superseded
    rounds' checkpoint blocks are released eagerly (the ContextCleaner
    would otherwise hold every round's full label snapshot until driver
    GC — unbounded storage growth over a long loop).

    ``pairs``: (id_a, id_b [, ...]) undirected edges. Returns
    (doc_id, canonical_id) for every vertex appearing in an edge.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        # pre-partition by the per-round join key ONCE: LogicalRDD
        # preserves the checkpointed plan's output partitioning, so every
        # round's edges⨝labels join reuses it instead of re-exchanging the
        # (static) edge set each iteration (round 14, guide §2.4 — the
        # distinct's (src,dst) partitioning satisfied nothing downstream)
        .repartition("dst")
        .localCheckpoint()
    )
    # small-graph fast path: gate and fetch in ONE job (round 15 — the
    # separate count was a second pass over the checkpoint's blocks):
    # limit(gate+1).collect() returns every edge when the graph is under
    # the gate, and over it proves "too big" with a bounded (~16 MB)
    # overshoot while the checkpoint stays intact for the distributed
    # loop. Converged labels are identical to the loop's fixed point
    # (min id per connected component), pinned by test with the gate
    # monkeypatched both ways.
    rows = edges.limit(_CC_LOCAL_MAX_EDGES + 1).collect()
    if len(rows) <= _CC_LOCAL_MAX_EDGES:
        spark = pairs.sparkSession
        id_type = edges.schema["src"].dataType
        _release_local_checkpoint(edges)
        parent: dict = {}

        def _find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            a, b = r[0], r[1]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = _find(a), _find(b)
            if ra != rb:
                # union-by-min keeps every root the component minimum —
                # path compression keeps the forest shallow regardless
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        out = [(v, _find(v)) for v in parent]
        schema = T.StructType(
            [
                T.StructField("doc_id", id_type, False),
                T.StructField("canonical_id", id_type, False),
            ]
        )
        # the parallelized result has no catalyst size estimate (RDD-backed
        # scans default to a huge sizeInBytes), so downstream joins would
        # plan SMJ against a frame this path PROVES is ≤ the gate (~16 MB):
        # hint the broadcast and right-size the slices so tiny label sets
        # don't fan into defaultParallelism single-row tasks
        n_slices = max(1, min(32, len(out) // 50_000 + 1))
        rdd = spark.sparkContext.parallelize(out, n_slices)
        return spark.createDataFrame(rdd, schema).hint("broadcast")
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels.select("id", "lbl"), edges.dst == F.col("id"))
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        # the changed flag rides the label update itself (labels only ever
        # decrease, so "changed" ≡ "decreased"): the old per-round
        # new⨝old comparison join — a second full shuffle join per
        # iteration — collapses to a filter over the round's already
        # checkpointed blocks (round 14, guide §2.4)
        new_labels = (
            labels.select("id", "lbl")
            .join(neighbor_min, F.col("id") == neighbor_min.src, "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("nl"),
                (F.coalesce("nlbl", "lbl") < F.col("lbl")).alias("chg"),
            )
            .withColumnRenamed("nl", "lbl")
            .localCheckpoint()
        )
        changed = new_labels.filter("chg").limit(1).count()
        _release_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    _release_local_checkpoint(edges)
    return labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("canonical_id"))


def hamming_neardup_pairs(
    hashes: DataFrame,
    hash_col: str = "simhash",
    id_col: str = "id",
    max_hamming: int = 3,
) -> DataFrame:
    """Generic 64-bit-fingerprint near-dup pairs within ``max_hamming`` bit
    flips — the banding core shared by text SimHash and image perceptual
    hashes (``operators.multimodal.image_dhash``).

    Pigeonhole banding: split the 64-bit fingerprint into
    ``max_hamming + 1`` bands — any pair within the distance budget agrees
    EXACTLY on at least one band, so candidates come from equi-joins on
    (band_no, band_bits) and the verify step is one ``bit_count(xor)``.
    Same output-sensitive shape as MinHash LSH: no cross join, bucket
    sizes are the only skew surface. Guaranteed recall 1.0 within the
    budget (pigeonhole is exact, unlike probabilistic LSH)."""
    n_bands = max_hamming + 1
    width = 64 // n_bands  # 16 bits per band for the default budget
    sims = hashes.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("_h")
    ).cache()
    banded = sims.select(
        "id",
        "_h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_no"),
                        F.shiftrightunsigned("_h", b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_bits"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("id", "_h", "band.band_no", "band.band_bits")
    hamming = F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h")))
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band_no", "band_bits"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("id_a", "id_b")
        .agg(F.first("hamming").alias("hamming"))
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """X2 — SimHash near-dup pairs within ``max_hamming`` bit flips (see
    ``hamming_neardup_pairs`` for the banding design)."""
    return hamming_neardup_pairs(
        simhash64(df, text_col, id_col),
        hash_col="simhash",
        id_col="id",
        max_hamming=max_hamming,
    )


def _distinct_shingle_hash_rows(
    df: DataFrame, text_col: str, id_col: str, n: int, out_id: str, seed: int = 7
) -> DataFrame:
    """``mapInPandas``: (id, text) → one row per DISTINCT lowercased
    word-``n``-gram shingle hash, ``(out_id, h1, h2)`` — the vectorized
    twin of ``word_shingles``'s (lower → split → slice → array_join →
    array_distinct) chain, whose interpreted HOF lambdas re-build every
    shingle STRING per window.

    Round-14 shape: rows come straight out of numpy arrays (no
    array<struct> return + explode — building a Python dict per window
    dominated the earlier pandas-UDF form), and the per-token md5 runs
    only over the batch VOCABULARY (``pd.factorize`` maps tokens to
    codes at C speed; the rolling lanes then run once over the whole
    batch's concatenated token stream, windows crossing document
    boundaries discarded by index arithmetic). Token hashes take md5's
    low 64 bits — two independent 64-bit rolling lanes make an effective
    128-bit shingle key, so a cross-impl divergence needs a 2⁻¹²⁸-scale
    collision. Per-(doc, h1, h2) ``np.unique`` replicates the
    ``array_distinct``; docs with NULL text or fewer than ``n`` tokens
    emit nothing (what an empty/NULL array explodes to)."""
    import hashlib

    import numpy as np
    import pandas as pd

    lanes = []
    for lane_seed in (seed, seed + 104729):
        state = lane_seed
        mults = np.empty(n, dtype=np.uint64)
        for i in range(n):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            mults[i] = (state >> 3) | 1
        lanes.append(mults)
    md5 = hashlib.md5

    def gen(batches):
        for pdf in batches:
            texts = pdf[text_col]
            ids_np = pdf[id_col].to_numpy()
            kept: list[int] = []
            toks_per_doc: list = []
            for i in range(len(pdf)):
                t = texts.iat[i]
                if t is None:
                    continue
                toks = t.lower().split(" ")
                if len(toks) < n:
                    continue
                kept.append(i)
                toks_per_doc.append(np.asarray(toks, dtype=object))
            if not kept:
                yield pd.DataFrame(
                    {
                        out_id: pdf[id_col].iloc[0:0],
                        "h1": np.empty(0, np.int64),
                        "h2": np.empty(0, np.int64),
                    }
                )
                continue
            lens = np.fromiter(
                (len(x) for x in toks_per_doc), dtype=np.int64,
                count=len(toks_per_doc),
            )
            flat = np.concatenate(toks_per_doc)
            codes, uniques = pd.factorize(flat)
            uh = np.empty(len(uniques), dtype=np.uint64)
            for j, tok in enumerate(uniques):
                uh[j] = int.from_bytes(md5(tok.encode("utf-8")).digest()[:8], "big")
            tc = uh[codes]
            n_all = tc.shape[0] - n + 1
            lane_h = []
            for mults in lanes:
                h = tc[:n_all] * mults[0]
                for i in range(1, n):
                    h = h + tc[i : n_all + i] * mults[i]  # uint64 wraparound
                lane_h.append((h >> np.uint64(1)).astype(np.int64))
            wpd = lens - n + 1  # >= 1 for every kept doc
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            doc_of = np.repeat(np.arange(len(lens), dtype=np.int64), wpd)
            csum = np.cumsum(wpd)
            offs = np.arange(int(csum[-1]), dtype=np.int64) - np.repeat(
                csum - wpd, wpd
            )
            widx = np.repeat(starts, wpd) + offs
            trip = np.stack(
                [doc_of, lane_h[0][widx], lane_h[1][widx]], axis=1
            )
            trip = np.unique(trip, axis=0)
            out_ids = ids_np[np.asarray(kept, dtype=np.int64)][trip[:, 0]]
            yield pd.DataFrame(
                {out_id: out_ids, "h1": trip[:, 1], "h2": trip[:, 2]}
            )

    id_ddl = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        gen, f"`{out_id}` {id_ddl}, h1 long, h2 long"
    )


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 5,
    impl: str = "expr",
) -> DataFrame:
    """Benchmark-contamination check: (train_id, bench_id, shared) for every
    train document sharing >= ``min_shared`` distinct n-gram shingles with a
    benchmark document — the eval-leakage gate a training pipeline runs
    before a data release.

    Scale shape: the benchmark side is small by construction (eval sets are
    thousands of docs, not billions), so its shingle index BROADCASTS and
    the train corpus streams through a map-side hash join — no shuffle of
    the train shingles, output bounded by true overlaps.

    ``impl`` follows the hot-path-twin convention (round 4): ``"expr"``
    (default — the oracle mode x2e keeps) builds shingle strings via the
    relational chain; ``"arrow"`` joins on 128-bit shingle hashes computed
    in one numpy pass per side (``_distinct_shingle_hash_rows``) — no
    interpreted per-window ``array_join``, and the broadcast index carries
    16-byte keys instead of shingle text. Decisions pinned identical by
    test (a cross-impl divergence needs a 2⁻¹²⁸-scale hash collision)."""
    if impl == "arrow":
        sh_t = _distinct_shingle_hash_rows(train, text_col, id_col, n, "id")
        sh_b = _distinct_shingle_hash_rows(
            bench, text_col, id_col, n, "bench_id"
        )
        return (
            sh_t.join(F.broadcast(sh_b), ["h1", "h2"])
            .groupBy(F.col("id").alias("train_id"), "bench_id")
            .agg(F.count(F.lit(1)).alias("shared"))
            .filter(F.col("shared") >= min_shared)
        )
    if impl != "expr":
        raise ValueError(f"impl must be 'expr' or 'arrow', got {impl!r}")
    sh_t = word_shingles(train, text_col, id_col, n)
    sh_b = (
        word_shingles(bench, text_col, id_col, n)
        .withColumnRenamed("id", "bench_id")
    )
    return (
        sh_t.join(F.broadcast(sh_b), "shingle")
        .groupBy(F.col("id").alias("train_id"), "bench_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def _window_hash_udf(k: int, seed: int = 7):
    """Arrow-batched pandas UDF: text → ``array<struct<h1,h2>>`` of 128-bit
    (two independent 64-bit) rolling hashes, one per k-token window start.

    Same numpy shape as ``_minhash_sig_udf``: per-token md5-low-32 hashes
    cached per distinct token per batch, then every k-window's hash is a
    position-weighted rolling combine (uint64 wraparound) — no per-window
    string is ever built, which is what made shingle-string hashing the
    dominant cost in the minhash profile. TWO independent position-multiplier
    sets give an effective 128-bit window key: at 100 TB (~10¹² windows) a
    single 64-bit key would see birthday collisions — two distinct substrings
    deduping against each other — while 128 bits keeps the expected collision
    count ≪ 1 without shipping window text through the shuffle."""
    import hashlib

    import numpy as np
    import pandas as pd

    # k odd 64-bit multipliers per hash lane, from the same deterministic LCG
    # as the minhash permutations (distinct seeds → independent lanes)
    lanes = []
    for lane_seed in (seed, seed + 104729):
        state = lane_seed
        mults = np.empty(k, dtype=np.uint64)
        for i in range(k):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            mults[i] = (state >> 3) | 1
        lanes.append(mults)
    md5 = hashlib.md5

    def win_hashes(text):
        out = []
        tok_cache: dict[str, int] = {}
        cached = tok_cache.get
        for t in text:
            if t is None:
                out.append(None)
                continue
            toks = t.split(" ")
            L = len(toks)
            if L < k:
                out.append([])
                continue
            tc = np.empty(L, dtype=np.uint64)
            for j, tok in enumerate(toks):
                v = cached(tok)
                if v is None:
                    v = int.from_bytes(md5(tok.encode("utf-8")).digest()[:4], "big")
                    tok_cache[tok] = v
                tc[j] = v
            n_win = L - k + 1
            hs = []
            for mults in lanes:
                h = tc[:n_win] * mults[0]
                for i in range(1, k):
                    h = h + tc[i : n_win + i] * mults[i]  # uint64 wraparound
                hs.append((h >> np.uint64(1)).astype(np.int64))
            out.append(
                [{"h1": int(a), "h2": int(b)} for a, b in zip(hs[0], hs[1])]
            )
        return pd.Series(out)

    win_hashes.__annotations__ = {"text": pd.Series, "return": pd.Series}
    return F.pandas_udf(win_hashes, "array<struct<h1: long, h2: long>>")


def dedup_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """X2 follow-through — EXACT substring deduplication across the corpus
    (the Lee et al. 2022 *"Deduplicating Training Data Makes Language Models
    Better"* ExactSubstr operator): every duplicated token span of length
    >= ``k`` tokens is kept only at its first corpus occurrence (ordered by
    ``(doc_id, position)``) and its tokens are removed everywhere else.
    Catches verbatim boilerplate / license blocks / quoted passages that
    document-level near-dup (MinHash/SimHash) never sees because the
    containing documents differ.

    The reference algorithm builds a corpus-wide suffix array — inherently
    single-machine. The Spark-first re-expression uses the window-anchoring
    identity: a maximal duplicated substring of length L >= k is exactly the
    union of its L-k+1 duplicated k-token windows, so

        per-doc window hashes (one narrow Arrow pass, no shuffle)
        → posexplode → first-occurrence ``row_number`` over the 128-bit
          window key                                 [shuffle 1: by hash]
        → non-first duplicated starts join back to the token frame
                                                     [shuffle 2: by doc]
        → per-token coverage = ``max(start-flag)`` over a k-row sliding
          window → tokens under any covered window drop
        → doc rebuild via ``collect_list`` on the SAME doc partitioning
          (no extra exchange).

    Every step is an equi-join / window over uniformly-hashed keys — no
    cross join, no driver-side state, output-sensitive in the number of
    duplicated windows. Viral windows (a passage repeated millions of
    times) put all their occurrences in one hash partition for the
    ``row_number`` — bounded by AQE skew handling, and each occurrence is
    one 24-byte row, not document text.

    Returns ``(id_col, clean_text, n_tokens_kept, n_tokens_dropped)`` —
    one row per input document (docs shorter than ``k`` tokens, empty and
    NULL texts pass through kept-whole).
    """
    # NO input re-spread here (unlike the minhash signatures): the
    # window-hash pass is a cheap rolling combine, and the very next step
    # shuffles by window hash anyway — measured at sf0.1, adding the
    # spread's extra Exchange is a wash-to-loss (0.84s vs 0.79s median)
    src = df.select(F.col(id_col), F.col(text_col).alias("_text"))
    win = src.select(
        id_col, F.posexplode(_window_hash_udf(k)("_text")).alias("pos", "h")
    )
    wkey = Window.partitionBy("h.h1", "h.h2")
    first = wkey.orderBy(id_col, "pos")
    # count + row_number share the same partitioning → one exchange
    dup_starts = (
        win.withColumn("_occ", F.count(F.lit(1)).over(wkey))
        .withColumn("_rn", F.row_number().over(first))
        .filter((F.col("_occ") > 1) & (F.col("_rn") > 1))
        .select(id_col, "pos", F.lit(1).alias("_dup_start"))
    )
    toks = src.select(
        id_col, F.posexplode_outer(F.split(F.col("_text"), " ")).alias("pos", "tok")
    )
    cov = Window.partitionBy(id_col).orderBy("pos").rowsBetween(-(k - 1), 0)
    marked = (
        toks.join(dup_starts, [id_col, "pos"], "left")
        .withColumn(
            "_drop", F.max(F.coalesce("_dup_start", F.lit(0))).over(cov) == 1
        )
    )
    rebuilt = marked.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("_drop") & F.col("tok").isNotNull(),
                            F.struct(F.col("pos"), F.col("tok")),
                        )
                    )
                ),
                lambda s: s.tok,
            ),
        ).alias("clean_text"),
        F.sum(
            F.when(~F.col("_drop") & F.col("tok").isNotNull(), 1).otherwise(0)
        ).alias("n_tokens_kept"),
        F.sum(F.when(F.col("_drop"), 1).otherwise(0)).alias("n_tokens_dropped"),
    )
    # NULL-text docs never produce token rows with non-null tok; they come
    # back from posexplode_outer as a single null-token row → empty rebuild,
    # matching dedup_corpus_lines' NULL contract.
    return rebuilt


def dedup_corpus_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_dedup_chars: int = 1,
) -> DataFrame:
    """X1/X4 bridge — corpus-LEVEL line deduplication (the C4/RefinedWeb
    cleaning step): every normalized line that occurs more than once across
    the whole corpus is kept only at its first occurrence (ordered by
    ``(doc_id, line_no)``) and dropped everywhere else. Catches boilerplate
    headers/footers/navigation that doc-level near-dup never sees, and is
    distinct from the within-doc repetition signals in
    ``functions.text.repetition_signals``.

    Scale shape: first-occurrence is one ``row_number`` window partitioned
    on ``(xxhash64(norm), norm)`` — the hash distributes, the raw line in
    the key makes 64-bit collisions harmless (two distinct lines colliding
    on the hash would otherwise dedup against each other, near-certain at
    ~10¹¹ lines by the birthday bound; the line rides the shuffle as row
    payload regardless, so the extra key column costs nothing). The doc
    rebuild is one aggregation on ``id_col`` — two shuffles total.
    Trimmed lines shorter than ``min_dedup_chars`` (default: empty lines)
    are exempt from dedup AND salted out of the hot partition: they are
    re-keyed by ``(doc, line_no)`` so the corpus's blank lines never funnel
    through one reducer.

    Returns ``(id_col, clean_text, n_lines_kept, n_lines_dropped)`` — one
    row per input document; NULL text behaves as an empty document (kept,
    empty ``clean_text``, zero counts).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode_outer(F.split(F.col(text_col), "\n")).alias(
            "line_no", "line"
        ),
    ).withColumn(
        # full ASCII-whitespace strip (Java \s), NOT F.trim (space-only):
        # with CRLF corpora a blank line is "\r", which trim would leave
        # dedupable — one viral xxhash64("\r") key and corpus-wide
        # paragraph-break deletion
        "norm",
        F.regexp_replace("line", r"^\s+|\s+$", ""),
    )
    real = F.col("line").isNotNull()
    dedupable = real & (F.length("norm") >= min_dedup_chars)
    # exempt rows get a per-row salt key: they skip dedup anyway, and the
    # empty-line key would otherwise be the corpus's hottest partition
    pkey = F.when(dedupable, F.xxhash64("norm")).otherwise(
        F.xxhash64(F.col(id_col).cast("string"), F.col("line_no"))
    )
    first = Window.partitionBy(pkey, "norm").orderBy(id_col, "line_no")
    kept = lines.withColumn(
        "keep",
        (~dedupable) | (F.row_number().over(first) == 1),
    )
    return kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("keep") & real,
                            F.struct(F.col("line_no"), F.col("line")),
                        )
                    )
                ),
                lambda s: s.line,
            ),
        ).alias("clean_text"),
        F.sum(F.when(F.col("keep") & real, 1).otherwise(0)).alias("n_lines_kept"),
        F.sum(F.when(~F.col("keep") & real, 1).otherwise(0)).alias(
            "n_lines_dropped"
        ),
    )
