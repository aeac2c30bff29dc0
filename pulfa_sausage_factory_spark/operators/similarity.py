"""Similarity search over embedding columns (SURVEY.md §2.l X3).

Two paths:
- ``knn_bruteforce`` — exact cosine top-k of a (small, broadcast) query set
  against the full corpus. The corpus side streams: one narrow pass, per-query
  top-k via window, no global sort. This is the correctness baseline.
- ``knn_lsh`` — random-hyperplane LSH bucketing: corpus and queries hash to
  sign-bit buckets; only same-bucket candidates score. At 100 TB this is the
  scale path (candidate count output-sensitive); recall is tunable via number
  of tables/bits. Hyperplanes are derived deterministically from a seed.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulfa_sausage_factory_spark.functions.vectors import (
    as_double_array,
    cosine,
    dot,
)
from pulfa_sausage_factory_spark.operators import relational


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is expected small → broadcast nested-loop join; the corpus is
    scanned once. Ties broken by neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    return _top_k_tail(scored, k, "cos", "neighbor_id")


def _top_k_tail(scored: DataFrame, k: int, score: str, nbr: str) -> DataFrame:
    """The per-query tail every kNN path ends in: the ``k`` best ``nbr``
    rows per ``query_id`` by ``score`` (ties to the lower id), ranked
    ``rk`` from 1, the score rounded to 6 places, ``nbr`` out as
    ``neighbor_id``."""
    top = relational.top_k_per_group(
        scored, ["query_id"], [F.col(score).desc(), F.col(nbr)], k
    )
    nid = F.col(nbr) if nbr == "neighbor_id" else F.col(nbr).alias("neighbor_id")
    return top.select("query_id", nid, "rk", F.round(score, 6).alias(score))


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure python, no numpy
    RNG state dependency): xorshift-ish LCG → N(0,1) via Box-Muller."""
    state = seed or 1
    def rnd() -> float:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        return ((state >> 11) + 1) / float(1 << 53)
    planes = []
    for _ in range(bits):
        v = []
        for _ in range((dim + 1) // 2):
            u1, u2 = rnd(), rnd()
            r = math.sqrt(-2.0 * math.log(u1))
            v.extend([r * math.cos(2 * math.pi * u2), r * math.sin(2 * math.pi * u2)])
        planes.append(v[:dim])
    return planes


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: random-hyperplane (sign) LSH bucket join.

    Each vector maps to a ``bits``-bit bucket (sign of dot with each
    hyperplane, folded JVM-side — no UDF). ``probe_hamming`` is the recall
    knob: each query also probes every bucket within that hamming radius,
    expanded as XOR masks on the query side *before* the join — so the probe
    fan-out stays a plain equi-join on the bucket key (the scale-safe shape),
    never a ``bit_count(a^b) <= r`` theta-join over the corpus. Radius 1
    multiplies query rows by ``bits+1``; the corpus side never grows.
    """
    if probe_hamming < 0 or probe_hamming > 2:
        raise ValueError("probe_hamming in {0, 1, 2}: larger radii explode "
                         "the probe set faster than they add recall")
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << i for i in range(bits)]
    if probe_hamming >= 2:
        masks += [(1 << i) | (1 << j) for i in range(bits) for j in range(i)]
    planes = _hyperplanes(dim, bits, seed)

    def bucket(vec):
        bit_cols = []
        for i, p in enumerate(planes):
            plane = F.array(*[F.lit(x) for x in p])
            d = F.aggregate(
                F.zip_with(vec, plane, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bit_cols.append(F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
        b = F.lit(0)
        for c in bit_cols:
            b = b + c
        return b

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("cv"),
    ).withColumn("bucket", bucket(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("qv"),
    ).withColumn("bucket", bucket(F.col("qv")))
    if len(masks) > 1:
        # distinct masks → distinct probe buckets → each (query, neighbor)
        # candidate appears exactly once; no post-join dedup needed
        q = q.withColumn(
            "_mask", F.explode(F.array(*[F.lit(m) for m in masks]))
        ).withColumn(
            "bucket", F.col("_mask").bitwiseXOR(F.col("bucket"))
        ).drop("_mask")
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    return _top_k_tail(scored, k, "cos", "neighbor_id")


def embedding_neardup(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    allow_crossjoin: bool = False,
) -> DataFrame:
    """X2 (embedding variant) — near-duplicate pairs by cosine similarity.

    Pairs are generated inside blocks (``block_col``) instead of a full
    cross join: at scale the blocking key is an LSH bucket / IVF cell /
    upstream cluster id, which bounds the candidate count to
    sum(block_size²) — the same output-sensitive shape as ``knn_lsh``.
    ``block_col=None`` degrades to the exact all-pairs baseline
    (oracle-checkable, test scales only) and must be opted into with
    ``allow_crossjoin=True`` — O(n²) at corpus scale is never an accident.
    """
    if block_col is None and not allow_crossjoin:
        raise ValueError(
            "embedding_neardup(block_col=None) is the all-pairs cross-join "
            "baseline (O(n²) — test scales only); pass allow_crossjoin=True "
            "to confirm, or provide a blocking column for the scale path"
        )
    sel = [F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")]
    if block_col is not None:
        sel.append(F.col(block_col).alias("blk"))
    vecs = corpus.select(*sel)
    a, b = vecs.alias("a"), vecs.alias("b")
    joined = a.join(b, "blk") if block_col is not None else a.crossJoin(b)
    return (
        joined.filter(F.col("a.id") < F.col("b.id"))
        .withColumn("cos", cosine(F.col("a.v"), F.col("b.v")))
        .filter(F.col("cos") >= threshold)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round("cos", 6).alias("cos"),
        )
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    sample_fraction: float = 0.1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sampled Lloyd's k-means for IVF coarse centroids (cosine geometry).

    The 100 TB recipe: train on a deterministic hash-bucket sample (k-means
    quality saturates far below full-corpus size — a 10⁵-10⁶-vector sample
    trains 16-64k cells fine), broadcast the small centroid table each
    round, and run a handful of Lloyd's iterations:

      1. assign every sampled vector to its max-cosine centroid
         (broadcast fan-out join + argmax window — no all-pairs);
      2. recompute each cell's mean element-wise via ``posexplode`` →
         ``groupBy(cell, dim)`` — the shuffle carries sample_n × dim
         scalar rows, map-side combined;
      3. collect the ``n_cells`` new centroids (bounded: n_cells × dim
         doubles) and broadcast them into the next round. Cells that lost
         all members keep their previous centroid.

    Init is the first ``n_cells`` sampled vectors by id — fully
    deterministic end-to-end (hash sample, no RNG), so trained centroids
    are reproducible across runs/sessions.

    Returns a small DataFrame ``(cell_id int, cent array<double>)`` for
    ``knn_ivf(..., centroids=...)``.
    """
    spark = corpus.sparkSession
    vecs = corpus.select(
        F.col(id_col).alias("sid"), as_double_array(vec_col).alias("v")
    )
    if sample_fraction < 1.0:
        pct = max(1, int(round(sample_fraction * 10_000)))
        vecs = vecs.filter(F.pmod(F.xxhash64(F.col("sid")), F.lit(10_000)) < pct)
    vecs = vecs.localCheckpoint(eager=False)  # reused iters+1 times

    cent_rows = [
        (i, r.v)
        for i, r in enumerate(vecs.orderBy("sid").limit(n_cells).collect())
    ]
    schema = "cell_id int, cent array<double>"
    for _ in range(max(0, iters)):
        cent_df = spark.createDataFrame(cent_rows, schema)
        w = Window.partitionBy("sid").orderBy(
            F.col("cell_cos").desc(), F.col("cell_id")
        )
        best = (
            vecs.crossJoin(F.broadcast(cent_df))
            .withColumn("cell_cos", cosine(F.col("v"), F.col("cent")))
            .withColumn("crk", F.row_number().over(w))
            .filter(F.col("crk") == 1)
        )
        means = (
            best.select("cell_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell_id", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.m,
                ).alias("cent")
            )
        )
        new = {r.cell_id: list(r.cent) for r in means.collect()}
        cent_rows = [(cid, new.get(cid, old)) for cid, old in cent_rows]
    # the sample checkpoint is only needed during training — release its
    # blocks eagerly rather than pinning them until driver GC
    from ..session import release_local_checkpoint

    release_local_checkpoint(vecs)
    return spark.createDataFrame(cent_rows, schema)


def semdedup(
    corpus: DataFrame,
    n_cells: int | str = 16,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "low_centroid_sim",
    impl: str = "expr",
) -> DataFrame:
    """X2 (semantic variant) — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    prune semantically-duplicate examples by embedding similarity, clustered
    so the quadratic part stays inside k-means cells.

    The published algorithm, re-expressed as a Spark plan:

      1. coarse-cluster the embeddings (``centroids`` from
         ``train_ivf_centroids``, or the deterministic first-N stand-in) —
         assignment is the same broadcast-centroid argmax join as
         ``knn_ivf``; the per-vector cosine to its own centroid
         (``cent_sim``) falls out of the argmax for free;
      2. rank vectors within each cell into a keep-priority order
         (the paper keeps LOW-centroid-similarity examples — they carry the
         cluster's diversity; ``keep="high_centroid_sim"`` inverts it;
         ties broken by id for determinism);
      3. self-equi-join each cell (a.prio < b.prio) and mark ``b`` removed
         when cos(a, b) ≥ threshold. This is exactly the reference
         implementation's upper-triangular max-similarity test — removal
         keys off ALL higher-priority neighbors, kept or not, so no
         sequential dependency exists and the whole step is one join +
         one aggregation.

    Scale: the only quadratic work is within-cell; at corpus scale
    ``n_cells`` grows ~√n (the paper uses 50k clusters for LAION-scale),
    holding cell populations bounded, and both join sides shuffle once on
    ``cell_id`` (co-partitioned). No all-pairs path exists.
    ``n_cells="auto"`` applies the √n rule via ``suggest_ann_config``
    (one corpus count) instead of a hand-tuned constant.

    ``impl`` selects the pair stage only (assignment/ranking are identical
    expressions either way): ``"expr"`` (default) evaluates pair cosines as
    sequential-fold column expressions — bit-reproducible in ANSI SQL, the
    oracle-checked mode; ``"arrow"`` runs one ``applyInPandas`` per cell
    (the published implementation's own shape: normalize rows, one BLAS
    ``X @ X.T``, upper-triangular max per priority order) — ~10× on the
    stress corpus. BLAS dot accumulation order differs from the fold in the
    last ulp, which can only matter for a pair sitting exactly AT the
    threshold; equality on real data is pinned by test.

    Returns ``(id, cell_id, cent_sim, removed)`` — one row per corpus
    vector; callers keep ``removed = false``.
    """
    if keep not in ("low_centroid_sim", "high_centroid_sim"):
        raise ValueError(f"keep must be low_centroid_sim|high_centroid_sim, got {keep!r}")
    if impl not in ("expr", "arrow"):
        raise ValueError(f"impl must be 'expr' or 'arrow', got {impl!r}")
    if n_cells == "auto" and centroids is None:
        # the paper's cells ~ √n rule (50k clusters at LAION scale) via
        # the shared sizing helper — keeps within-cell quadratics bounded
        # as the corpus grows without a hand-tuned constant
        n_cells = suggest_ann_config(corpus.count())["n_cells"]
    if centroids is None:
        centroids = (
            corpus.orderBy(id_col)
            .limit(n_cells)
            .select(
                F.col(id_col).alias("cell_id"), as_double_array(vec_col).alias("cent")
            )
        )
    else:
        centroids = centroids.select("cell_id", "cent")
    if impl == "arrow":
        # assignment in numpy too: the broadcast-argmax over interpreted
        # HOF cosines is |corpus|×n_cells lambda evaluations — one BLAS
        # X @ C.T per Arrow batch replaces all of them. Centroid matrix
        # rides the closure (n_cells × dim doubles — MBs at 50k cells).
        import numpy as np
        import pandas as pd

        crows = centroids.orderBy("cell_id").collect()
        cell_ids = np.array([r.cell_id for r in crows], dtype=np.int64)
        C = np.stack([np.asarray(r.cent, dtype=np.float64) for r in crows])
        cn = np.linalg.norm(C, axis=1)
        cn[cn == 0] = 1.0
        Cn = (C / cn[:, None]).T  # (dim, n_cells)

        def assign(vs):
            out = []
            for v in vs:
                x = np.asarray(v, dtype=np.float64)
                nx = np.linalg.norm(x) or 1.0
                cos = (x / nx) @ Cn
                j = int(np.argmax(cos))  # first max → lowest cell_id on ties
                out.append({"cell_id": int(cell_ids[j]), "cent_sim": float(cos[j])})
            return pd.DataFrame(out)

        assign.__annotations__ = {"vs": pd.Series, "return": pd.DataFrame}
        audf = F.pandas_udf(assign, "cell_id long, cent_sim double")
        assigned = (
            corpus.select(
                F.col(id_col).alias("id"), as_double_array(vec_col).alias("v")
            )
            .withColumn("a", audf("v"))
            .select("id", "v", F.col("a.cell_id"), F.col("a.cent_sim"))
        )
    else:
        w_assign = Window.partitionBy("id").orderBy(
            F.col("cell_cos").desc(), F.col("cell_id")
        )
        assigned = (
            corpus.select(F.col(id_col).alias("id"), as_double_array(vec_col).alias("v"))
            .crossJoin(F.broadcast(centroids))
            .withColumn("cell_cos", cosine(F.col("v"), F.col("cent")))
            .withColumn("crk", F.row_number().over(w_assign))
            .filter(F.col("crk") == 1)
            .select("id", "v", "cell_id", F.col("cell_cos").alias("cent_sim"))
        )
    order = (
        [F.col("cent_sim").asc(), F.col("id").asc()]
        if keep == "low_centroid_sim"
        else [F.col("cent_sim").desc(), F.col("id").asc()]
    )
    ranked = assigned.withColumn(
        "prio", F.row_number().over(Window.partitionBy("cell_id").orderBy(*order))
    )
    if impl == "arrow":
        import numpy as np
        import pandas as pd

        def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
            pdf = pdf.sort_values("prio")
            X = np.stack(pdf["v"].to_numpy())
            norms = np.linalg.norm(X, axis=1)
            norms[norms == 0] = 1.0
            X = X / norms[:, None]
            S = X @ X.T
            # removed[j] = any i<j with cos >= threshold (upper triangle)
            mask = np.triu(S >= threshold, k=1)
            removed = mask.any(axis=0)
            return pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy().astype("int64"),
                    # trained centroids carry int32 cell ids; default mode
                    # uses vec_ids (int64) — normalize to the output schema
                    "cell_id": pdf["cell_id"].to_numpy().astype("int64"),
                    "cent_sim": np.round(pdf["cent_sim"].to_numpy(), 6),
                    "removed": removed,
                }
            )

        return ranked.groupBy("cell_id").applyInPandas(
            prune, "id long, cell_id long, cent_sim double, removed boolean"
        )
    a = ranked.select(
        F.col("cell_id"), F.col("prio").alias("prio_a"), F.col("v").alias("va")
    )
    b = ranked.select(
        F.col("cell_id"),
        F.col("prio").alias("prio_b"),
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
    )
    removed_ids = (
        a.join(b, "cell_id")
        .filter(F.col("prio_a") < F.col("prio_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= F.lit(threshold))
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        ranked.join(removed_ids.withColumn("_rm", F.lit(True)), "id", "left")
        .select(
            "id",
            "cell_id",
            F.round("cent_sim", 6).alias("cent_sim"),
            F.coalesce("_rm", F.lit(False)).alias("removed"),
        )
    )



def _first_n_centroids(corpus, n_cells, id_col, vec_col):
    """Deterministic first-N-by-id coarse centroids — the oracle-checkable
    stand-in shared by every IVF-family operator."""
    return (
        corpus.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).alias("cell_id"), as_double_array(vec_col).alias("cent")
        )
    )


def _assign_cells(
    df: DataFrame, centroids: DataFrame, out_id: str, top: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """Broadcast-centroid argmax assignment (max cosine, ties to the lower
    cell id): ``(out_id, v, cell_id)`` with ``top`` cells per vector —
    shared by knn_ivf and knn_ivf_pq so tie-breaking can never drift
    between the exact and quantized serving plans."""
    scored = (
        df.select(F.col(id_col).alias(out_id), as_double_array(vec_col).alias("v"))
        .crossJoin(F.broadcast(centroids))
        .withColumn("cell_cos", cosine(F.col("v"), F.col("cent")))
    )
    w = Window.partitionBy(out_id).orderBy(F.col("cell_cos").desc(), F.col("cell_id"))
    return (
        scored.withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") <= top)
        .select(out_id, "v", "cell_id")
    )


def _sub_slices(vec_col_name: str, m: int, sublen: int) -> "F.Column":
    """Explode expression: vector column → (sub, slice) structs."""
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.struct(
                s.alias("sub"),
                F.slice(vec_col_name, s * sublen + 1, sublen).alias("qs"),
            ),
        )
    )


def _query_luts(
    q: DataFrame, codebooks: DataFrame, m: int, sublen: int,
    vec_col: str = "qv",
) -> DataFrame:
    """Per-query ADC lookup table ``(query_id, lut array<array<double>>)``:
    ``lut[sub][code] = <q_sub, cent>``. Built ONCE per query — callers
    needing it per probed cell join their probe map onto this instead of
    recomputing the dot products n_probe times."""
    qsub = q.select("query_id", _sub_slices(vec_col, m, sublen).alias("e")).select(
        "query_id", "e.sub", "e.qs"
    )
    return (
        qsub.join(F.broadcast(codebooks), "sub")
        .withColumn("val", dot(F.col("qs"), F.col("cent")))
        .groupBy("query_id", "sub")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("code", "val"))),
                lambda s: s.val,
            ).alias("vals")
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "vals"))),
                lambda s: s.vals,
            ).alias("lut")
        )
    )


def _adc_score(m: int) -> "F.Column":
    """The ADC fold: Σ_sub lut[sub][codes[sub]] over the ``lut`` and
    ``codes`` columns — the only per-corpus-row work in PQ scoring."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(
            F.element_at("lut", i.cast("int")),
            (F.element_at("codes", i.cast("int")) + 1).cast("int"),
        ),
    )


#: query-row cap for the PQ serve path's DRIVER-built decision tables
#: (round 15, guide §1.3/§5 bounded-driver rule): at or below it the
#: query-side probe map / qc constants / ADC LUTs are computed on the
#: driver from the collected query vectors and shipped as one-slice
#: literal frames — replacing, per serve, ~6 tiny broadcast-build jobs
#: plus the 20-row distinct/groupBy/window shuffles that fed them (each
#: a full job of pure scheduling; the round-14 x3s decomposition). The
#: collect is bounded: cap × (dim + m × n_codes) doubles ≈ single-digit
#: MB at any documented config. Above the cap the distributed query-side
#: plan stands unchanged — query batches are corpus-sized only in bulk
#: re-scoring jobs, which is exactly the regime the distributed path
#: exists for.
_QUERY_DRIVER_MAX_ROWS = 1024

#: sentinel a composing caller (knn_pq_rerank) passes as ``_q_rows`` when
#: it already probed the query set and found it over the cap — the inner
#: call must take the distributed path without re-collecting the probe
_DISTRIBUTED_QUERY_PATH = object()


def _py_dot(a, b) -> float:
    """Bit-equal python replica of ``vectors.dot``: sequential
    left-to-right fold in doubles (python floats ARE IEEE doubles; one
    fp multiply + add per element in the same order)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _py_cosine(a, b) -> float:
    """Bit-equal python replica of ``vectors.cosine``:
    dot / (norm(a) * norm(b)), each norm one sequential square fold
    under one sqrt — same operation order as the expression form."""
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return _py_dot(a, b) / (math.sqrt(na) * math.sqrt(nb))


def _collect_query_vectors(
    queries: DataFrame, id_col: str, vec_col: str
) -> "list[tuple] | None":
    """Gate + fetch for the driver fast path: the query ids and
    (double-cast) vectors, or ``None`` when the set exceeds
    :data:`_QUERY_DRIVER_MAX_ROWS` or carries duplicate ids (duplicate
    query ids produce join fan-out whose exact shape the distributed
    plan owns — the fast path refuses rather than reproduce it) or a
    zero-norm vector (:func:`_zero_norm`)."""
    rows = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(vec_col).alias("qv"),
        )
        .limit(_QUERY_DRIVER_MAX_ROWS + 1)
        .collect()
    )
    if len(rows) > _QUERY_DRIVER_MAX_ROWS:
        return None
    if any(r.qv is None for r in rows):
        # a NULL query vector null-propagates through the expression
        # plan; the distributed path owns that (degenerate) semantics
        return None
    out = [(r.query_id, list(r.qv)) for r in rows]
    if len({qid for qid, _ in out}) != len(out):
        return None
    if any(_zero_norm(v) for _qid, v in out):
        return None
    return out


def _zero_norm(v) -> bool:
    """True when ``vectors.norm`` of ``v`` is 0 (same square fold, so
    underflowing tiny vectors count too). The expression cosine then
    divides by zero — Spark raises DIVIDE_BY_ZERO under ANSI and yields
    NULL without it, never a double the ``_py_*`` replicas could return
    — so the driver fast path declines such query vectors and
    centroids and the distributed plan owns the degenerate
    semantics."""
    return _py_dot(v, v) == 0.0


def _driver_probe_lut(
    q_rows: list,
    cent_rows: list,
    cb_rows: list,
    m: int,
    sublen: int,
    n_probe: int,
    is_res: bool,
) -> "tuple[list, list]":
    """Driver-side replica of the query-side serve tables: per query the
    ``n_probe`` nearest cells by cosine (ties to the lower cell id —
    exactly ``_assign_cells``'s window order, including Spark's
    NaN-greatest double ordering), the per-probe ⟨q, centroid⟩ constant
    (residual only), and the m × n_codes ADC LUT (``_query_luts``'s
    ``lut[sub][code] = ⟨q_sub, cent⟩`` with the identical slice bounds).
    All arithmetic goes through the ``_py_*`` fold replicas, so every
    value is bit-identical to the expression plan's."""
    cents = sorted(
        (int(r.cell_id), list(r.cent)) for r in cent_rows
    )
    cb = {(int(r.sub), int(r.code)): list(r.cent) for r in cb_rows}
    n_codes = 1 + max(code for _sub, code in cb)
    probe_rows: list = []
    lut_rows: list = []
    for qid, v in q_rows:
        scored = [(cid, _py_cosine(v, cent)) for cid, cent in cents]
        # Spark orders NaN as greater than every double, so cell_cos
        # DESC puts NaN cells first; ties break ascending on cell_id
        ranked = sorted(
            scored,
            key=lambda t: (
                0 if math.isnan(t[1]) else 1,
                0.0 if math.isnan(t[1]) else -t[1],
                t[0],
            ),
        )[:n_probe]
        cent_by_id = dict(cents)
        for cid, _cos in ranked:
            qc = _py_dot(v, cent_by_id[cid]) if is_res else 0.0
            probe_rows.append((qid, cid, qc))
        lut_rows.append((
            qid,
            [
                [
                    _py_dot(v[s * sublen:(s + 1) * sublen], cb[(s, c)])
                    for c in range(n_codes)
                ]
                for s in range(m)
            ],
        ))
    return probe_rows, lut_rows


def _tiny_query_frames(
    spark, queries: DataFrame, id_col: str, centroids: DataFrame | None,
    probe_rows: list, lut_rows: list,
):
    """The driver-built probe/LUT tables as one-slice literal frames with
    the SAME column types the distributed plan would produce (query_id
    from the queries frame, cell_id from the centroids frame), so the
    downstream equi-joins plan identically."""
    from pyspark.sql import types as T

    from ..io import tiny_df

    qid_t = queries.select(F.col(id_col).alias("query_id")).schema[0].dataType
    probe = lut = None
    if probe_rows is not None:
        cell_t = centroids.schema["cell_id"].dataType
        probe = tiny_df(
            spark, probe_rows,
            T.StructType([
                T.StructField("query_id", qid_t),
                T.StructField("cell_id", cell_t),
                T.StructField("qc", T.DoubleType()),
            ]),
        )
    if lut_rows is not None:
        lut = tiny_df(
            spark, lut_rows,
            T.StructType([
                T.StructField("query_id", qid_t),
                T.StructField(
                    "lut", T.ArrayType(T.ArrayType(T.DoubleType()))
                ),
            ]),
        )
    return probe, lut


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """X3 (IVF variant) — inverted-file ANN: coarse-quantize the corpus into
    ``n_cells`` cells, search only the ``n_probe`` cells nearest each query.

    Default centroids are the first ``n_cells`` corpus vectors by id — a
    deterministic stand-in kept as the oracle-checkable mode; pass
    ``centroids=train_ivf_centroids(...)`` for k-means-trained cells
    (training is an offline/sampled job at scale; the serving plan below is
    identical either way):

      1. broadcast centroids; assign every corpus vector to its max-cosine
         cell (window argmin over the small fan-out join);
      2. assign each query to its ``n_probe`` best cells the same way;
      3. equi-join on cell id → exact cosine only within probed cells
         → per-query top-k window.

    The only all-pairs work is vs. centroids (|data| × n_cells); the
    candidate join is output-sensitive. Recall < 1 by construction —
    ``knn_bruteforce`` is the exactness baseline.
    """
    if centroids is None:
        centroids = _first_n_centroids(corpus, n_cells, id_col, vec_col)
    else:
        centroids = centroids.select("cell_id", "cent")

    c = _assign_cells(corpus, centroids, "neighbor_id", 1, id_col, vec_col
                      ).withColumnRenamed("v", "cv")
    q = _assign_cells(queries, centroids, "query_id", n_probe, id_col, vec_col
                      ).withColumnRenamed("v", "qv")
    scored = (
        c.join(F.broadcast(q), "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    return _top_k_tail(scored, k, "cos", "neighbor_id")


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the ANN memory story at 100 TB: a 64-dim
# float32 embedding (256 B) compresses to m small code ids (m bytes at
# 256 codes), and scoring against a query needs only per-subspace lookup
# tables (ADC — asymmetric distance computation, Jégou et al. 2011).
# Composes with the IVF surface: coarse cells prune the corpus, PQ codes
# score the survivors without touching raw vectors.
# ---------------------------------------------------------------------------


def suggest_ann_config(n_rows: int) -> dict:
    """Default IVF/IVFADC sizing for a corpus of ``n_rows`` vectors:
    ``n_cells ≈ √n`` with probe fraction ¼ (``n_probe = n_cells/4``).

    Rationale (measured, RECALL.md): cell count ~√n balances the two
    scan costs (queries touch ``n_probe·n/n_cells`` codes + ``n_cells``
    centroids) and is the published IVF practice (FAISS guidelines;
    SemDeDup's 50k clusters at LAION scale). On weak-cluster geometry the
    coarse-pruning recall cap is set by the PROBE FRACTION, not n_probe
    itself — 64 cells/nprobe=16 clears full-scan ADC on the uniform
    corpus where 16/4 does not — so the suggestion scales both together.
    This is also the 100 TB direction: more, smaller cells keep per-cell
    populations bounded as the corpus grows."""
    import math

    n_cells = max(4, math.isqrt(max(1, int(n_rows))))
    return {"n_cells": n_cells, "n_probe": max(1, n_cells // 4)}


#: attribute name for the per-DataFrame artifact-row memo (see
#: ``_small_rows``); ``ann_index.load_pq_index`` seeds it so a loaded
#: handle's serve calls never re-collect what the load already read
_SMALL_ROWS_ATTR = "_pulfa_artifact_rows"


def _small_rows(df: DataFrame) -> list:
    """Full collect of a SMALL artifact table (codebooks: m × n_codes
    rows; centroids: n_cells rows — KBs by construction), memoized on
    the DataFrame handle. Round-14 VERDICT item 4: the serve path's
    config/signature/grid validations each re-collected these tables,
    and against a parquet scan every collect is a full Spark job
    (~100-200 ms of scheduling for KBs of data) — the measured
    x3s_pq_serve_from_disk drift was exactly these jobs accumulating
    as validations grew. One collect per handle, validations free
    after. Artifact tables are immutable by the module's contract
    (indexes grow through WAL appends, never in-place rewrites), so
    the memo cannot go stale on a live handle."""
    rows = getattr(df, _SMALL_ROWS_ATTR, None)
    if rows is None:
        rows = df.collect()
        try:
            setattr(df, _SMALL_ROWS_ATTR, rows)
        except Exception:  # exotic DataFrame proxy — just skip the memo
            pass
    return rows


def cache_artifact_rows(df: DataFrame, rows: list) -> None:
    """Seed ``_small_rows``'s memo with rows a caller already collected
    (``ann_index.load_pq_index`` validates from one collect and hands
    the same rows to the serve path through this)."""
    setattr(df, _SMALL_ROWS_ATTR, rows)


def _centroid_signature(centroids: DataFrame) -> str:
    """Deterministic fingerprint of a coarse-centroid table — stamped onto
    residual codebooks at train time and re-checked by every consumer, so
    a codebook trained on residuals vs one centroid set can never silently
    encode/score against another (the config-carrying artifact pattern —
    same contract as ``lm.NBModel``'s hasher/dim carry). Cheap: centroid
    tables are n_cells rows by construction (memoized — see
    ``_small_rows``)."""
    import hashlib

    rows = sorted(
        (int(r.cell_id), tuple(float(x) for x in r.cent))
        for r in _small_rows(centroids)
    )
    return hashlib.md5(repr(rows).encode()).hexdigest()[:16]


def _codebook_signature(codebooks: DataFrame) -> str:
    """Deterministic fingerprint of a FULL codebook table (grid content +
    carried residual/centroid config) — stamped onto ``pq_encode`` output
    so a prebuilt ``codes_df`` can be cross-checked against the codebook
    it is served with. Round-7 ADVICE fix: codes were the only artifact
    in the carry-your-config contract with no carried fingerprint, so a
    stale or foreign codes table silently served wrong neighbors on the
    direct (non-persisted-index) API. Cheap: codebooks are m × n_codes
    rows by construction (memoized — see ``_small_rows``)."""
    import hashlib

    is_res, sig = _codebook_config(codebooks)
    rows = sorted(
        (int(r.sub), int(r.code), tuple(float(x) for x in r.cent))
        for r in _small_rows(codebooks)
    )
    return hashlib.md5(repr((is_res, sig, rows)).encode()).hexdigest()[:16]


def _check_codes_stamp(
    codes_df: DataFrame, codebooks: DataFrame, caller: str
) -> None:
    """Refuse a prebuilt codes table whose carried ``cb_sig`` stamp does
    not match the codebook it is about to be scored with — the same
    refusal behavior every other consumer of a carried config has. The
    stamp rides as COLUMN METADATA on ``codes`` (not a data column):
    Spark persists column metadata through parquet round-trips, and a
    schema-level check costs zero execution — no job ever runs just to
    read a constant. Codes tables without the stamp (hand-built,
    pre-round-7, or metadata stripped by a rewriting transform) pass
    unchecked: the stamp is a tripwire for silent mispairing, not a
    schema requirement."""
    got = codes_stamp(codes_df)
    if got is None:
        return
    want = _codebook_signature(codebooks)
    if got != want:
        raise ValueError(
            f"{caller}: codes_df carries codebook stamp {got} but the "
            f"codebook passed here fingerprints as {want} — these codes "
            "were encoded with a different codebook and would serve "
            "wrong neighbors; re-encode with pq_encode against this "
            "codebook (or pass the codebook the codes came from)"
        )


def codes_stamp(codes_df: DataFrame) -> str | None:
    """The ``cb_sig`` codebook fingerprint a ``pq_encode`` output carries
    in its ``codes`` column metadata, or None when unstamped."""
    try:
        md = codes_df.schema["codes"].metadata
    except Exception:  # no codes column at all — consumers validate shape
        return None
    return md.get("cb_sig") if md else None


def _codebook_config(codebooks: DataFrame) -> tuple[bool, str | None]:
    """(is_residual, cent_sig) carried by a codebook table; codebooks
    produced before round 6 (no ``residual`` column) read as raw.
    Reads through the ``_small_rows`` memo — every consumer in a serve
    call shares one collect of the m × n_codes table."""
    if "residual" not in codebooks.columns:
        return False, None
    rows = _small_rows(codebooks)
    if not rows:
        return False, None
    return bool(rows[0].residual), rows[0].cent_sig


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 3,
    sample_fraction: float = 0.1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Per-subspace sampled Lloyd's (L2): split each vector into ``m``
    contiguous subvectors, k-means each subspace independently. Same 100 TB
    recipe as ``train_ivf_centroids`` — deterministic hash sample, broadcast
    centroid updates, a handful of iterations; the model that comes back is
    ``m × n_codes`` rows. Init is the first ``n_codes`` sampled vectors'
    subvectors (deterministic, no RNG). Returns
    ``(sub int, code int, cent array<double>, residual, cent_sig)``.

    ``centroids`` (from ``train_ivf_centroids``) switches on RESIDUAL
    training — proper IVFADC (Jégou et al. 2011 §III): each sampled vector
    is assigned to its coarse cell and the codebooks are trained on
    ``v − centroid(cell)`` instead of raw vectors. Residuals concentrate
    near the origin regardless of which cell a vector lives in, so the
    same code budget quantizes them far more finely than raw vectors —
    without it the composed IVF-PQ path scores BELOW full-scan ADC
    (measured, RECALL.md r5). The returned codebook carries
    ``residual=true`` plus a fingerprint of the centroid table; consumers
    (``pq_encode``, ``knn_ivf_pq``) refuse mismatched centroids."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} must divide into m={m} subspaces")
    sublen = dim // m
    spark = corpus.sparkSession
    vecs = corpus.select(
        F.col(id_col).alias("sid"), as_double_array(vec_col).alias("v")
    )
    if sample_fraction < 1.0:
        pct = max(1, int(round(sample_fraction * 10_000)))
        vecs = vecs.filter(F.pmod(F.xxhash64(F.col("sid")), F.lit(10_000)) < pct)
    cent_sig = None
    if centroids is not None:
        centroids = centroids.select("cell_id", "cent")
        cent_sig = _centroid_signature(centroids)
        # residualize the sample: same broadcast-argmax assignment as the
        # serving path (_assign_cells), so train-time and encode-time
        # residuals agree exactly
        w_res = Window.partitionBy("sid").orderBy(
            F.col("cell_cos").desc(), F.col("cell_id")
        )
        vecs = (
            vecs.crossJoin(F.broadcast(centroids))
            .withColumn("cell_cos", cosine(F.col("v"), F.col("cent")))
            .withColumn("crk", F.row_number().over(w_res))
            .filter(F.col("crk") == 1)
            .select(
                "sid", F.zip_with("v", "cent", lambda x, y: x - y).alias("v")
            )
        )
    subs = vecs.select(
        "sid",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.alias("sub"),
                    F.slice("v", s * sublen + 1, sublen).alias("sv"),
                ),
            )
        ).alias("e"),
    ).select("sid", "e.sub", "e.sv")
    subs = subs.localCheckpoint(eager=False)  # reused iters+1 times

    init = subs.join(
        subs.select("sid").distinct().orderBy("sid").limit(n_codes)
        .withColumn("code", F.row_number().over(Window.orderBy("sid")) - 1),
        "sid",
    ).select("sub", "code", F.col("sv").alias("cent"))
    cent_rows = [(r.sub, r.code, list(r.cent)) for r in init.collect()]
    schema = "sub int, code int, cent array<double>"
    # Seed-count validation: a hash sample smaller than n_codes would emit
    # a sparse codebook whose downstream consumers (pq_encode's dense code
    # tensor, knn_pq_adc's LUT arrays) assume contiguous codes 0..n_codes-1
    # — pq_encode could assign phantom zero centroids and the ADC
    # element_at would index past the LUT. Fail here with the fix, not
    # there with a NULL score.
    n_seeds = len(cent_rows) // m
    if n_seeds < n_codes:
        raise ValueError(
            f"train_pq_codebooks: sample yielded only {n_seeds} seed "
            f"vectors for n_codes={n_codes} — raise sample_fraction (or "
            f"lower n_codes to <= {n_seeds})"
        )

    def l2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    for _ in range(max(0, iters)):
        cent_df = spark.createDataFrame(cent_rows, schema)
        w = Window.partitionBy("sid", "sub").orderBy(F.col("d2").asc(), F.col("code"))
        best = (
            subs.join(F.broadcast(cent_df), "sub")
            .withColumn("d2", l2(F.col("sv"), F.col("cent")))
            .withColumn("crk", F.row_number().over(w))
            .filter(F.col("crk") == 1)
        )
        means = (
            best.select("sub", "code", F.posexplode("sv").alias("pos", "val"))
            .groupBy("sub", "code", "pos")
            .agg(F.avg("val").alias("mv"))
            .groupBy("sub", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                    lambda s: s.mv,
                ).alias("cent")
            )
        )
        new = {(r.sub, r.code): list(r.cent) for r in means.collect()}
        cent_rows = [(s, c, new.get((s, c), old)) for s, c, old in cent_rows]
    from ..session import release_local_checkpoint

    release_local_checkpoint(subs)
    return (
        spark.createDataFrame(cent_rows, schema)
        .withColumn("residual", F.lit(centroids is not None))
        .withColumn("cent_sig", F.lit(cent_sig).cast("string"))
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    assign_impl: str = "expr",
) -> DataFrame:
    """Quantize every vector to its ``m`` nearest-subspace-centroid code ids
    — one Arrow-batched numpy pass (the signature-workload idiom: m×n_codes
    distance evaluations per vector belong in numpy, not interpreted HOF
    lambdas). The codebook broadcasts via closure capture (m·n_codes·sublen
    doubles — KBs). Returns ``(id, codes array<int>)``.

    RESIDUAL codebooks (``train_pq_codebooks(centroids=...)`` — IVFADC)
    require the SAME coarse ``centroids`` here: each vector is assigned to
    its cell and ``v − centroid(cell)`` is what gets coded, so the return
    grows a ``cell_id`` column: ``(id, cell_id, codes)``. The pairing is
    enforced via the codebook's carried centroid fingerprint — a raw
    codebook refuses ``centroids``, a residual one refuses their absence
    or a different table (fail at encode, not as garbage scores).

    The ``codes`` column carries the producing codebook's fingerprint
    (``_codebook_signature``) as COLUMN METADATA (``cb_sig``) — persisted
    by parquet, readable from the schema with zero execution — so serving
    consumers (``knn_ivf_pq``/``knn_pq_adc``) refuse a prebuilt codes
    table paired with the wrong codebook instead of silently scoring
    garbage (round-7 ADVICE: codes were the only config-carrying artifact
    without a carried fingerprint).

    ``assign_impl`` selects the residual path's CELL ASSIGNMENT only (the
    hot-path-twin convention): ``"expr"`` (default) is the broadcast-
    argmax column-expression join every oracle-checked IVF operator
    shares; ``"arrow"`` fuses assignment into the encode UDF (one BLAS
    ``x @ C.T`` per vector, then residual + coding in the same numpy
    batch) — at √n cells the expression path is |corpus| × n_cells
    interpreted HOF cosines, the dominant encode cost at scale. Ties
    break identically (first max ⇒ lowest cell id); equality on real
    data is pinned by test."""
    import numpy as np
    import pandas as pd

    is_res, sig = _codebook_config(codebooks)
    if is_res and centroids is None:
        raise ValueError(
            "pq_encode: codebook was trained on residuals "
            "(train_pq_codebooks(centroids=...)) — pass the SAME coarse "
            "centroids so vectors are residualized before coding"
        )
    if not is_res and centroids is not None:
        raise ValueError(
            "pq_encode: centroids= given but the codebook was trained on "
            "raw vectors — retrain with train_pq_codebooks(centroids=...) "
            "for residual (IVFADC) coding"
        )
    if is_res:
        # signature before the select — the memo lives on the caller's
        # handle (round 14; signature reads cell_id/cent either way)
        got_sig = _centroid_signature(centroids)
        if got_sig != sig:
            raise ValueError(
                f"pq_encode: centroid table (sig {got_sig}) is not the one "
                f"this residual codebook was trained on (sig {sig}) — "
                "residual codes are meaningless against other centroids"
            )
        centroids = centroids.select("cell_id", "cent")
    rows = sorted(_small_rows(codebooks), key=lambda r: (r.sub, r.code))
    m = 1 + max(r.sub for r in rows)
    n_codes = 1 + max(r.code for r in rows)
    sublen = len(rows[0].cent)
    # Dense-grid validation: every (sub, code) cell in 0..m-1 × 0..n_codes-1
    # must be present, or the zero-filled tensor would contain phantom
    # centroids the encoder can assign to — codes knn_pq_adc's LUTs (built
    # from the same codebook rows) then score wrongly. train_pq_codebooks
    # always emits the full grid; this guards hand-built codebooks.
    present = {(r.sub, r.code) for r in rows}
    if len(present) != m * n_codes:
        missing = sorted(
            (s, c) for s in range(m) for c in range(n_codes)
            if (s, c) not in present
        )[:5]
        raise ValueError(
            f"pq_encode: codebook is not a dense sub×code grid "
            f"({len(present)} rows for m={m}, n_codes={n_codes}; first "
            f"missing cells: {missing}) — retrain or renumber codes to "
            "contiguous 0..n_codes-1 per subspace"
        )
    cb = np.zeros((m, n_codes, sublen), dtype=np.float64)
    for r in rows:
        cb[r.sub, r.code] = r.cent

    def enc(vs):
        out = []
        for v in vs:
            x = np.asarray(v, dtype=np.float64).reshape(m, 1, sublen)
            d2 = ((x - cb) ** 2).sum(axis=-1)  # (m, n_codes)
            out.append(d2.argmin(axis=-1).astype(np.int32))
        return pd.Series(out)

    enc.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(enc, "array<int>")
    md = {"cb_sig": _codebook_signature(codebooks)}
    if assign_impl not in ("expr", "arrow"):
        raise ValueError(
            f"assign_impl must be 'expr' or 'arrow', got {assign_impl!r}"
        )
    if is_res and assign_impl == "arrow":
        crows = sorted(_small_rows(centroids),
                       key=lambda r: r.cell_id)  # n_cells rows
        cell_ids = np.array([r.cell_id for r in crows], dtype=np.int64)
        C = np.stack([np.asarray(r.cent, dtype=np.float64) for r in crows])
        cnorm = np.linalg.norm(C, axis=1)
        cnorm[cnorm == 0] = 1.0
        Cn = (C / cnorm[:, None]).T  # (dim, n_cells)

        def enc_fused(vs):
            out = []
            for v in vs:
                x = np.asarray(v, dtype=np.float64)
                nx = np.linalg.norm(x) or 1.0
                # first max ⇒ lowest cell index == expr's (cos desc,
                # cell_id asc) tie-break, because C is stacked in
                # ascending cell_id order
                j = int(np.argmax((x / nx) @ Cn))
                r = (x - C[j]).reshape(m, 1, sublen)
                d2 = ((r - cb) ** 2).sum(axis=-1)
                out.append(
                    {
                        "cell_id": int(cell_ids[j]),
                        "codes": d2.argmin(axis=-1).astype(np.int32),
                    }
                )
            return pd.DataFrame(out)

        enc_fused.__annotations__ = {"vs": pd.Series, "return": pd.DataFrame}
        fudf = F.pandas_udf(enc_fused, "cell_id long, codes array<int>")
        cid_type = centroids.schema["cell_id"].dataType.simpleString()
        return corpus.select(
            F.col(id_col).alias("id"),
            fudf(as_double_array(vec_col)).alias("e"),
        ).select(
            "id",
            F.col("e.cell_id").cast(cid_type).alias("cell_id"),
            F.col("e.codes").alias("codes", metadata=md),
        )
    if is_res:
        assigned = _assign_cells(corpus, centroids, "id", 1, id_col, vec_col)
        return (
            assigned.join(F.broadcast(centroids), "cell_id")
            .select(
                "id",
                "cell_id",
                udf(F.zip_with("v", "cent", lambda x, y: x - y)).alias(
                    "codes", metadata=md
                ),
            )
        )
    return corpus.select(
        F.col(id_col).alias("id"),
        udf(as_double_array(vec_col)).alias("codes", metadata=md),
    )


def knn_pq_adc(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _q_rows=None,
) -> DataFrame:
    """ADC top-k by inner product: per query, precompute the ``m × n_codes``
    lookup table ``lut[sub][code] = ⟨q_sub, cent⟩`` (a tiny broadcast
    fan-out over the codebook), then score every coded corpus row with a
    pure-expression fold ``Σ_sub lut[sub][codes[sub]]`` — the corpus side
    never touches raw vectors or Python. Returns
    ``(query_id, neighbor_id, rk, score)``.

    The codebook must be a dense contiguous ``m × n_codes`` grid (what
    ``train_pq_codebooks`` emits): the LUT arrays are positional, so a
    sparse/renumbered codebook would make the ADC ``element_at`` read the
    wrong slot or index past the array — validated here, not discovered
    as a NULL score downstream."""
    if _codebook_config(codebooks)[0]:
        raise ValueError(
            "knn_pq_adc: this codebook quantizes RESIDUALS (IVFADC) — a "
            "full-scan ADC has no cell context to add the <q, centroid> "
            "term back; serve through knn_ivf_pq / knn_pq_rerank with the "
            "index's centroids instead"
        )
    _check_codes_stamp(codes_df, codebooks, "knn_pq_adc")
    # grid validation from the memoized rows (one collect per handle —
    # round 14): same facts the old groupBy computed, driver-side
    cb_rows = _small_rows(codebooks)
    if not cb_rows:
        raise ValueError("knn_pq_adc: codebook is empty")
    by_sub: dict[int, list[int]] = {}
    for r in cb_rows:
        by_sub.setdefault(int(r.sub), []).append(int(r.code))
    chk = [
        (s, len(cs), len(set(cs)), max(cs))
        for s, cs in sorted(by_sub.items())
    ]
    m = len(chk)
    n_codes = chk[0][3] + 1
    bad = [s for s, _n, _nc, _mx in chk] != list(range(m)) or any(
        not (n == nc == mx + 1 == n_codes) for _s, n, nc, mx in chk
    )
    if bad:
        raise ValueError(
            "knn_pq_adc: codebook is not a dense contiguous sub×code grid "
            f"({[(s, n, mx) for s, n, _nc, mx in chk]}) — retrain with "
            "train_pq_codebooks or renumber codes to 0..n_codes-1 per "
            "subspace"
        )
    sublen = len(cb_rows[0].cent)
    if _q_rows is _DISTRIBUTED_QUERY_PATH:
        q_rows = None
    elif _q_rows is not None:
        q_rows = _q_rows
    else:
        q_rows = _collect_query_vectors(queries, id_col, vec_col)
    if q_rows is not None:
        # driver fast path (round 15) — see knn_ivf_pq; raw ADC has no
        # probe map, only the per-query LUT
        _probe_rows, lut_rows = _driver_probe_lut(
            q_rows, [], cb_rows, m, sublen, 0, False
        )
        _unused, lut = _tiny_query_frames(
            queries.sparkSession, queries, id_col, None, None, lut_rows
        )
    else:
        lut = _query_luts(
            queries.select(
                F.col(id_col).alias("query_id"),
                as_double_array(vec_col).alias("qv"),
            ),
            codebooks, m, sublen,
        )
    scored = (
        codes_df.crossJoin(F.broadcast(lut))
        .filter(F.col("query_id") != F.col("id"))
        .withColumn("score", _adc_score(m))
    )
    return _top_k_tail(scored, k, "score", "id")


def knn_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codes_df: DataFrame | None = None,
    _q_rows=None,
) -> DataFrame:
    """The composed IVF-PQ serving plan (Jégou et al. 2011): coarse cells
    prune the corpus (only ``n_probe`` cells per query are touched), PQ
    codes score the survivors by ADC — so the hot path reads m-byte codes,
    never raw vectors. This is the 100 TB ANN shape: the index is
    (cell_id, codes) per vector — ~1-2% of raw embedding bytes — and the
    scoring join is an equi-join on cell_id against a broadcast of
    per-query lookup tables.

    With a RESIDUAL codebook (``train_pq_codebooks(centroids=...)``) this
    is full IVFADC (Jégou et al. §III): codes quantize ``v − centroid``,
    the LUT folds ``⟨q_sub, residual_cent⟩``, and each probe adds the
    per-cell constant ``⟨q, centroid(cell)⟩`` back — ``⟨q, v⟩ ≈ ⟨q, c⟩ +
    ⟨q, v − c⟩`` with the quantization error taken on the (much smaller)
    residual. The codebook's carried centroid fingerprint must match the
    ``centroids`` passed here. Raw codebooks keep the round-5 behavior.

    ``codes_df`` reuses a prebuilt ``pq_encode`` output (residual:
    ``(id, cell_id, codes)``; raw: ``(id, codes)``) — the serve-from-index
    path: at 100 TB the corpus is encoded once, persisted, and every query
    session loads codes instead of re-reading raw vectors.

    Steps: assign corpus → 1 cell each / queries → ``n_probe`` cells
    (broadcast-centroid argmax, exactly ``knn_ivf``); ``pq_encode`` the
    corpus once; build each query's ``m × n_codes`` inner-product LUT;
    equi-join on cell; fold LUT over code ids; per-query top-k window.
    Recall < exact by both quantizations — ``knn_bruteforce`` is the
    baseline, ``knn_ivf`` isolates the coarse-cell loss.
    """
    is_res, sig = _codebook_config(codebooks)
    if centroids is None:
        centroids = _first_n_centroids(corpus, n_cells, id_col, vec_col)
    # signature BEFORE the column-pruning select: the memo lives on the
    # handle the caller passed (a loaded index's centroids), and the
    # signature only reads (cell_id, cent) either way
    if is_res and _centroid_signature(centroids) != sig:
        raise ValueError(
            "knn_ivf_pq: centroid table is not the one this residual "
            "codebook was trained on (fingerprint mismatch) — pass the "
            "training centroids"
        )
    cb_rows = _small_rows(codebooks)
    m = 1 + max(r.sub for r in cb_rows)
    sublen = len(cb_rows[0].cent)
    # driver fast-path gate BEFORE the column-pruning select: the
    # _small_rows memo rides the ORIGINAL centroid handle (a .select()
    # creates a new object and drops it — round-14 gotcha)
    if _q_rows is _DISTRIBUTED_QUERY_PATH:
        q_rows = None
    elif _q_rows is not None:
        q_rows = _q_rows
    else:
        q_rows = _collect_query_vectors(queries, id_col, vec_col)
    cent_rows = _small_rows(centroids) if q_rows is not None else None
    if cent_rows is not None and any(_zero_norm(r.cent) for r in cent_rows):
        q_rows = None
    cent_handle = centroids
    centroids = centroids.select("cell_id", "cent")
    if is_res:
        if codes_df is None:
            codes_df = pq_encode(
                corpus, codebooks, id_col=id_col, vec_col=vec_col,
                centroids=centroids,
            )
        elif "cell_id" not in codes_df.columns:
            raise ValueError(
                "knn_ivf_pq: residual codes_df must carry (id, cell_id, "
                "codes) — re-encode with pq_encode(..., centroids=...)"
            )
        else:
            _check_codes_stamp(codes_df, codebooks, "knn_ivf_pq")
        coded = codes_df.select("id", "cell_id", "codes")
    else:
        if codes_df is None:
            codes_df = pq_encode(
                corpus, codebooks, id_col=id_col, vec_col=vec_col
            )
        else:
            _check_codes_stamp(codes_df, codebooks, "knn_ivf_pq")
        coded = _assign_cells(
            corpus, centroids, "id", 1, id_col, vec_col
        ).drop("v").join(codes_df.select("id", "codes"), "id")
    if q_rows is not None:
        # driver fast path (round 15): the probe map and per-query LUTs
        # computed on the driver from the collected query vectors (the
        # _py_* folds are bit-equal replicas of the expression math) and
        # shipped as one-slice literal frames — replacing the 20-row
        # _assign_cells window, the LUT distinct + double groupBy, and
        # their broadcast-build jobs with two 1-task builds
        probe_rows, lut_rows = _driver_probe_lut(
            q_rows, cent_rows, cb_rows, m, sublen, n_probe, is_res
        )
        probe, lut = _tiny_query_frames(
            queries.sparkSession, queries, id_col, cent_handle,
            probe_rows, lut_rows,
        )
    else:
        q = _assign_cells(
            queries, centroids, "query_id", n_probe, id_col, vec_col
        )
        # the LUT is independent of the probed cell: build it ONCE per
        # query, then replicate onto the (query, cell) probe map —
        # n_probe× less dot work and a broadcast with one LUT copy per
        # probe row, not per build
        lut = _query_luts(
            q.select("query_id", F.col("v").alias("qv")).distinct(),
            codebooks, m, sublen,
        )
        if is_res:
            # per-probe constant ⟨q, centroid(cell)⟩ rides the probe map —
            # one dot per (query, probed cell), n_probe × n_queries total
            probe = (
                q.join(F.broadcast(centroids), "cell_id")
                .withColumn("qc", dot(F.col("v"), F.col("cent")))
                .select("query_id", "cell_id", "qc")
            )
        else:
            probe = q.select("query_id", "cell_id").withColumn(
                "qc", F.lit(0.0)
            )
    # TWO small broadcasts, not one pre-joined big one (round-7): the
    # probe map is (query, cell, scalar) — tiny at any n_probe — while
    # the LUT is m × n_codes doubles PER QUERY; pre-joining them
    # replicated each query's LUT n_probe× into the broadcast (at the
    # suggest_ann_config default, n_probe ~ √n/4, a ~100× inflation at
    # stress scale). Joining the LUT by query_id after the cell equi-join
    # broadcasts exactly one LUT per query.
    scored = (
        coded.join(F.broadcast(probe), "cell_id")
        .filter(F.col("query_id") != F.col("id"))
        .join(F.broadcast(lut), "query_id")
        .withColumn("score", F.col("qc") + _adc_score(m))
    )
    return _top_k_tail(scored, k, "score", "id")


def knn_pq_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_df: DataFrame | None = None,
    centroids: DataFrame | None = None,
    n_probe: int = 4,
    check_corpus: bool = False,
) -> DataFrame:
    """PQ serving with exact reranking — the standard two-stage ANN pattern
    (FAISS's ``IndexRefineFlat`` shape): ADC over the m-byte codes produces
    a ``shortlist`` of candidates per query (cheap — the corpus-wide pass
    never touches raw vectors), then ONLY the shortlist rows are rescored
    with exact cosine and the top-``k`` re-ranked.

    Closes the PQ recall gap at negligible cost: ADC quantization error
    mis-orders near-ties (measured recall@10 ~0.36 standalone on the
    text-embedding corpus), but almost all true neighbors survive into a
    100-row shortlist, and the exact stage re-orders them correctly
    (~0.9+; see RECALL.md). Scale shape: the rerank join fetches
    queries × shortlist raw vectors via one broadcast of the candidate
    ids against the corpus — output-sensitive, no second corpus-wide
    vector scan, and the shortlist knob trades recall for exactly that
    fetch size.

    With a RESIDUAL codebook (+ matching ``centroids``) the shortlist
    stage is full IVFADC instead of a corpus-wide ADC scan — the
    ``FAISS IndexIVFPQ + IndexRefineFlat`` composition: cells prune
    (``n_probe`` of them per query), residual ADC shortlists, exact
    cosine reranks. That is the complete 100 TB serving recipe.

    The rerank fetch inner-joins shortlist ids against ``corpus``, so a
    candidate whose raw vector the corpus argument lacks silently drops
    out of the top-k — the documented hazard of serving an APPENDED
    index with a stale corpus. ``check_corpus=True`` makes that contract
    checkable: every shortlist id must resolve in ``corpus`` or the call
    raises (one queries×shortlist-sized anti-join — output-sensitive and
    cheap, but it does execute the shortlist stage once more; an opt-in
    integrity probe, not a hot-path default).

    Returns ``(query_id, neighbor_id, rk, cos)``.
    """
    if shortlist < k:
        raise ValueError(
            f"knn_pq_rerank: shortlist={shortlist} < k={k} — the rerank "
            "can only reorder candidates the ADC stage produced; a "
            "shortlist below k silently returns fewer than k neighbors"
        )
    is_res, _ = _codebook_config(codebooks)
    # ONE query collect feeds the shortlist stage's driver-built
    # probe/LUT tables AND the rerank's qv broadcast (round 15); above
    # the cap the sentinel stops the inner call re-probing
    q_rows = _collect_query_vectors(queries, id_col, vec_col)
    q_rows_arg = q_rows if q_rows is not None else _DISTRIBUTED_QUERY_PATH
    if is_res:
        if centroids is None:
            raise ValueError(
                "knn_pq_rerank: residual codebook needs its training "
                "centroids= (the IVFADC shortlist probes coarse cells)"
            )
        cand = knn_ivf_pq(
            corpus, queries, codebooks, k=shortlist, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col, centroids=centroids,
            codes_df=codes_df, _q_rows=q_rows_arg,
        ).select("query_id", "neighbor_id")
    else:
        if codes_df is None:
            codes_df = pq_encode(
                corpus, codebooks, id_col=id_col, vec_col=vec_col
            )
        cand = knn_pq_adc(
            codes_df, queries, codebooks, k=shortlist, id_col=id_col,
            vec_col=vec_col, _q_rows=q_rows_arg,
        ).select("query_id", "neighbor_id")
    if check_corpus:
        missing = (
            cand.select("neighbor_id")
            .distinct()
            .join(
                corpus.select(F.col(id_col).alias("neighbor_id")),
                "neighbor_id",
                "left_anti",
            )
        )
        sample = [r.neighbor_id for r in missing.limit(5).collect()]
        if sample:
            raise ValueError(
                "knn_pq_rerank: shortlist candidates "
                f"{sample} have no raw vector in the rerank corpus — "
                "the corpus argument is stale (appended index served "
                "with the build-time corpus?); their rows would "
                "silently drop out of the top-k"
            )
    if q_rows is not None:
        # same collected vectors the shortlist tables were built from —
        # as_double_array already ran in the collect, values bit-equal
        from pyspark.sql import types as T

        from ..io import tiny_df

        qid_t = queries.select(
            F.col(id_col).alias("query_id")
        ).schema[0].dataType
        qv = tiny_df(
            queries.sparkSession, q_rows,
            T.StructType([
                T.StructField("query_id", qid_t),
                T.StructField("qv", T.ArrayType(T.DoubleType())),
            ]),
        )
    else:
        qv = queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(vec_col).alias("qv"),
        )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    # candidates (queries × shortlist rows) broadcast onto the corpus scan;
    # the query vectors ride in via a second small broadcast
    scored = (
        cv.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    return _top_k_tail(scored, k, "cos", "neighbor_id")
