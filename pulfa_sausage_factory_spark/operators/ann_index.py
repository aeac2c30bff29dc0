"""Persisted ANN index artifacts — build once, serve many (SURVEY.md
§2.l X3; the serving-side completion of ``operators.similarity``).

At 100 TB the index build (coarse k-means + residual codebook training +
corpus encoding) is an offline job measured in cluster-hours; query
sessions must LOAD the artifacts, not retrain per session. This module
persists the three tables an IVFADC index is made of —

- ``centroids``  (cell_id, cent)                 — n_cells rows
- ``codebooks``  (sub, code, cent, residual, cent_sig) — m × n_codes rows
- ``codes``      (id, cell_id, codes) / (id, codes)    — one row per
  corpus vector, m small ints: ~1-2 % of raw embedding bytes, the ONLY
  corpus-sized artifact

— as parquet subdirectories plus a one-row ``meta`` manifest, and
validates on load that the pieces belong together BEFORE any query runs
(the config-carrying artifact pattern: ``lm.NBModel`` carries hasher/dim,
codebooks carry a centroid fingerprint; the manifest carries everything).
A mismatched or hand-edited index refuses to serve instead of silently
scoring garbage.

The codes table then LIVES: ``append_to_pq_index`` grows it batch-wise
(``codes_append/batch=N``), ``remove_from_pq_index`` tombstones ids out
of serving (``tombstones/batch=N`` — the takedown path), and
``compact_pq_index`` folds base + appends − tombstones into a
``codes_head/upto=N`` snapshot so load cost stays bounded however long
the deployment appends. All three share the ``statedir`` crash-ordering
discipline (job-commit markers for batch validity, marker-after-rename
snapshots, fold-then-delete); the manifest is never rewritten after the
initial save, so no lifecycle crash can brick a healthy index.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulfa_sausage_factory_spark import statedir
from pulfa_sausage_factory_spark.io import tiny_df
from pulfa_sausage_factory_spark.operators.similarity import (
    _centroid_signature,
    _codebook_config,
    _codebook_signature,
    cache_artifact_rows,
    codes_stamp,
    knn_pq_rerank,
    pq_encode,
    train_ivf_centroids,
    train_pq_codebooks,
)

#: manifest format version — bump on layout changes so an old serving
#: binary fails loudly on a newer index instead of misreading it
_FORMAT = 1


@dataclass
class PQIndex:
    """The loaded/built index: three DataFrames + the config manifest."""

    codebooks: DataFrame
    codes: DataFrame
    centroids: DataFrame | None
    meta: dict = field(default_factory=dict)

    @property
    def residual(self) -> bool:
        return bool(self.meta.get("residual"))


def build_pq_index(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    n_cells: int | None | str = 16,
    iters: int = 2,
    ivf_iters: int = 3,
    sample_fraction: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    assign_impl: str = "expr",
) -> PQIndex:
    """Train + encode in one offline pass. ``n_cells`` set → the full
    IVFADC index (trained coarse centroids, RESIDUAL codebooks, coded
    corpus carrying cell ids); ``n_cells=None`` → flat PQ (raw codebooks,
    full-scan ADC shortlists); ``n_cells="auto"`` → sized from the corpus
    by ``suggest_ann_config`` (cells ~ √n, the at-scale default — the
    suggested ``n_probe`` lands in the manifest so serve sessions can
    read the matched probe budget back). Everything downstream of the
    deterministic hash sample is reproducible bit-for-bit, so rebuilding
    from the same corpus yields the same artifacts.

    ``ivf_iters`` defaults higher than ``iters`` deliberately: coarse-
    centroid convergence is the measured quality lever for the residual
    family (RECALL.md — iters 2→3 moved composed IVFADC from below
    full-scan ADC to above it), while extra CODEBOOK iterations did not
    help on the measured corpora."""
    from pulfa_sausage_factory_spark.operators.similarity import (
        suggest_ann_config,
    )

    n_train = corpus.count()
    n_probe_suggested = None
    if n_cells == "auto":
        cfg = suggest_ann_config(n_train)
        n_cells, n_probe_suggested = cfg["n_cells"], cfg["n_probe"]
    centroids = None
    if n_cells is not None:
        centroids = train_ivf_centroids(
            corpus, n_cells=n_cells, iters=ivf_iters,
            sample_fraction=sample_fraction, id_col=id_col, vec_col=vec_col,
        ).localCheckpoint()
    codebooks = train_pq_codebooks(
        corpus, m=m, n_codes=n_codes, iters=iters,
        sample_fraction=sample_fraction, id_col=id_col, vec_col=vec_col,
        dim=dim, centroids=centroids,
    ).localCheckpoint()
    # assign_impl="arrow" fuses the corpus-wide cell assignment into the
    # encode UDF (pq_encode twin contract) — at auto-sized √n cells the
    # expression assignment is |corpus| × n_cells interpreted cosines,
    # the dominant build cost; the offline build is where it matters
    codes = pq_encode(
        corpus, codebooks, id_col=id_col, vec_col=vec_col,
        centroids=centroids, assign_impl=assign_impl,
    )
    meta = {
        "format": _FORMAT,
        "m": m,
        "n_codes": n_codes,
        "n_cells": n_cells,
        "dim": dim,
        "sublen": dim // m,
        "residual": centroids is not None,
        "cent_sig": _codebook_config(codebooks)[1],
        # full-codebook fingerprint — what pq_encode stamps onto the codes
        # column metadata; load cross-checks every codes batch against it
        "cb_sig": _codebook_signature(codebooks),
        "id_col": id_col,
        "vec_col": vec_col,
        # staleness denominator (round 11): appends encode new vectors
        # against codebooks/centroids FROZEN at this build — recall decays
        # as the appended fraction grows (RECALL.md §append documents the
        # measured decay + retrain threshold); pq_index_report surfaces
        # appended/train_rows so the drift is visible, not silent
        "train_rows": int(n_train),
    }
    if n_probe_suggested is not None:
        meta["n_probe_suggested"] = n_probe_suggested
    return PQIndex(codebooks, codes, centroids, meta)


def index_from_artifacts(
    codebooks: DataFrame,
    codes: DataFrame,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe_suggested: int | None = None,
    train_rows: int | None = None,
) -> PQIndex:
    """Assemble a :class:`PQIndex` from ALREADY-TRAINED artifacts — the
    advanced/harness path (``build_pq_index`` trains everything itself).
    The manifest is DERIVED from the artifacts instead of trusted from
    the caller: grid shape and residual/fingerprint config probed from
    the codebook table (m × n_codes rows, KBs), ``dim`` from a codebook
    centroid's length, ``n_cells`` from the centroid table — so the
    resulting index save/loads under exactly the same cross-validation
    as a built one, with nothing for a hand-written meta dict to drift
    on."""
    rows = codebooks.select("sub", "code", "cent").collect()
    m = 1 + max((r.sub for r in rows), default=-1)
    n_codes = 1 + max((r.code for r in rows), default=-1)
    if not rows or len(rows) != m * n_codes:
        raise ValueError(
            f"index_from_artifacts: codebook table is not a dense "
            f"{m}×{n_codes} grid ({len(rows)} rows) — not a trained "
            "codebook"
        )
    sublen = len(rows[0].cent)
    is_res, cent_sig = _codebook_config(codebooks)
    if is_res and centroids is None:
        raise ValueError(
            "index_from_artifacts: residual codebooks need their "
            "training centroids="
        )
    if not is_res and centroids is not None:
        raise ValueError(
            "index_from_artifacts: raw (non-residual) codebooks cannot "
            "be paired with centroids — the codes would be scored as "
            "residuals"
        )
    meta = {
        "format": _FORMAT,
        "m": int(m),
        "n_codes": int(n_codes),
        "n_cells": centroids.count() if centroids is not None else None,
        "dim": int(m * sublen),
        "sublen": int(sublen),
        "residual": is_res,
        "cent_sig": cent_sig,
        "cb_sig": _codebook_signature(codebooks),
        "id_col": id_col,
        "vec_col": vec_col,
    }
    if n_probe_suggested is not None:
        meta["n_probe_suggested"] = int(n_probe_suggested)
    if train_rows is not None:
        # not derived from codes.count() here: the codes argument may be
        # a lazily-computed encode, and counting it would force the full
        # corpus encode inside what is otherwise a schema-only assembly
        meta["train_rows"] = int(train_rows)
    return PQIndex(codebooks, codes, centroids, meta)


def save_pq_index(index: PQIndex, path: str) -> None:
    """Persist the index under ``path``: parquet subdirs ``codebooks/``,
    ``codes/``, ``centroids/`` (residual only) + the ``meta/`` manifest.
    Spark-side writes throughout, so the path can live on any filesystem
    the session reaches (hdfs://, s3a://, local). Overwrites atomically
    per subdirectory; the ``meta`` manifest is DELETED first and written
    LAST, so a save killed at any point — including an overwrite of an
    existing index, where a stale manifest would otherwise validate
    half-rewritten artifacts (the codes table is corpus-sized and none of
    load's checks count its rows) — leaves a manifest-less (→ unloadable)
    dir, never a manifest over partial artifacts."""
    from pulfa_sausage_factory_spark import fsutil

    spark = index.codebooks.sparkSession
    base = path.rstrip("/")
    # refuse saving an index back onto the path it is LAZILY READING from
    # (idx = load_pq_index(p); save_pq_index(idx, p)): Spark throws
    # 'cannot overwrite a path being read from' on the first data write,
    # but by then the manifest below would already be deleted — a healthy
    # index destroyed by a no-op save. inputFiles() is a listing, cheap.
    frames = [index.codebooks, index.codes] + (
        [index.centroids] if index.centroids is not None else []
    )
    # both sides resolved to fully-qualified URIs and compared as path
    # PREFIXES (round-7 ADVICE fix: the previous raw-substring match of
    # '/<base>/' falsely refused a relative save path like 'idx' whenever
    # any corpus file's absolute path contained a directory of that name).
    # Only the BASE pays a JVM FileSystem round-trip; the inputFiles()
    # URIs come back pre-qualified and normalize Python-side
    # (fsutil.uri_key — round-8 ADVICE fix: per-file qualified_uri calls
    # added one py4j round-trip per parquet file to every save).
    bsch, bauth, bpath = fsutil.uri_key(fsutil.qualified_uri(spark, base))
    bpath = bpath.rstrip("/") + "/"
    for df in frames:
        try:
            files = df.inputFiles()
        except Exception:  # non-file-based plan (freshly built index)
            continue
        for f in files:
            key = fsutil.uri_key(f)
            if key is None:  # scheme-less entry — qualify just that one
                key = fsutil.uri_key(fsutil.qualified_uri(spark, f))
            if key[0] == bsch and key[1] == bauth and key[2].startswith(bpath):
                raise ValueError(
                    f"save_pq_index: index reads from the target path "
                    f"{base} — save to a different path, or materialize "
                    "the frames (localCheckpoint) before overwriting in "
                    "place"
                )
    # missing path is a no-op; a FAILED delete raises — proceeding with a
    # stale manifest in place would defeat the crash-ordering guarantee
    fsutil.delete(spark, f"{base}/meta")
    # a fresh save IS the complete index: stale append batches, tombstone
    # batches, and compaction snapshots from a previous index at this path
    # would otherwise ride along (valid if the rebuild is bit-identical,
    # unloadable-loud if not — either way they are not part of what this
    # save persists)
    fsutil.delete(spark, f"{base}/codes_append")
    fsutil.delete(spark, f"{base}/tombstones")
    fsutil.delete(spark, f"{base}/codes_head")
    index.codebooks.write.mode("overwrite").parquet(f"{base}/codebooks")
    # the codes table is the corpus-sized artifact; everything else is KBs
    index.codes.write.mode("overwrite").parquet(f"{base}/codes")
    if index.centroids is not None:
        index.centroids.write.mode("overwrite").parquet(f"{base}/centroids")
    tiny_df(
        spark, [(json.dumps(index.meta),)], "meta_json string"
    ).write.mode("overwrite").parquet(f"{base}/meta")


#: SparkSession attribute holding the session's load memo (see
#: ``_load_memo``)
_LOAD_MEMO_ATTR = "_pulfa_ann_load_memo"


def _load_memo(spark: SparkSession) -> dict:
    """The session-scoped memo ``load_pq_index`` reads through:
    ``{qualified dir: (listing fingerprint, value)}``. One entry per
    IMMUTABLE artifact, not per index — the index dir's entry holds the
    validated ``(meta, codebooks, centroids)`` (rewritten only by a full
    save/retrain), and every write-once codes source (``codes``,
    ``codes_head/upto=N``, ``codes_append/batch=N``,
    ``tombstones/batch=N``) holds its parquet schema, so a WAL append
    misses only on the new batch instead of invalidating the whole
    index. It rides the SparkSession object itself: it dies with the
    session, and a session built after a stop starts empty (an ``id()``
    key could be reused by the new object)."""
    memo = getattr(spark, _LOAD_MEMO_ATTR, None)
    if memo is None:
        memo = {}
        setattr(spark, _LOAD_MEMO_ATTR, memo)
    return memo


def _listing(spark: SparkSession, path: str) -> tuple | None:
    """Fingerprint of a dir's contents: ``(name, length, mtime)`` of
    every entry directly under ``path`` (``None`` when it does not
    exist) — one FileSystem ``listStatus``, no Spark job. Every write
    of this module lands NEW part-file names (the committer's per-job
    UUIDs), so an overwrite, a by-hand swap or a new batch always
    changes it."""
    from pulfa_sausage_factory_spark import fsutil

    fs, p = fsutil._fs_path(spark, path)
    if not fs.exists(p):
        return None
    return tuple(sorted(
        (st.getPath().getName(), int(st.getLen()),
         int(st.getModificationTime()))
        for st in fs.listStatus(p)
    ))


def load_pq_index(
    spark: SparkSession, path: str, up_to_entry: int | None = None,
    artifacts_only: bool = False,
) -> PQIndex:
    """Load + cross-validate a saved index. Refuses to return one whose
    pieces disagree — manifest vs actual codebook grid, manifest vs the
    codebook's carried residual/fingerprint config, fingerprint vs the
    centroids actually on disk — because every one of those mismatches
    (a partial overwrite, a by-hand swap of one subdir) would otherwise
    serve wrong neighbors with no error anywhere.

    Build once, serve many: a session loads each persisted artifact
    ONCE (``_load_memo``). A repeat load whose artifact listings are
    unchanged reuses the validated manifest, codebooks and centroids
    (with their ``_small_rows`` memo) and each codes source's schema —
    zero Spark jobs for what did not change; the per-load codes checks
    (batch stamps, column sets, ``cell_id``) still run against the
    memoized schemas. Any listing change is a miss that re-runs the
    full validation, and entries are stored only after the whole load
    succeeded, so tampering is refused exactly as on a first load.

    ``up_to_entry`` (internal — ``compact_pq_index`` uses it) bounds the
    assembly to log entries with id ≤ the bound: the index state as of
    that WAL position, which is exactly what a capped compaction must
    snapshot when later entries cannot be folded yet.

    ``artifacts_only=True`` (round 15) skips the CODES assembly — no
    codes scan, no per-append-batch union/stamp analysis, no tombstone
    anti-join; ``index.codes`` is ``None``. For callers that only need
    the validated meta/codebooks/centroids (``append_to_pq_index``
    encodes NEW rows against them and never reads existing codes): the
    assembly's cost grows O(live appends) and was paid per ingest batch
    under ``serve_index_append``. Meta↔codebook↔centroid
    cross-validation runs unchanged; the codes-stamp tripwire is part of
    the assembly and is deferred to the next full load."""
    from pulfa_sausage_factory_spark import fsutil

    base = path.rstrip("/")
    qbase = fsutil.qualified_uri(spark, base).rstrip("/")
    memo = _load_memo(spark)
    used: dict = {}  # memo entries this load read or filled

    def read_source(sub: str) -> DataFrame:
        """A write-once codes source, schema-inferred once per listing."""
        key = f"{qbase}/{sub}"
        fp = _listing(spark, key)  # BEFORE the read: see _load_artifacts
        hit = memo.get(key)
        if hit is not None and hit[0] == fp:
            used[key] = hit
            return spark.read.schema(hit[1]).parquet(f"{base}/{sub}")
        df = spark.read.parquet(f"{base}/{sub}")
        used[key] = (fp, df.schema)
        return df

    meta, codebooks, centroids = _load_artifacts(spark, base, qbase, memo,
                                                 used)
    if artifacts_only:
        memo.update(used)
        return PQIndex(codebooks, None, centroids, dict(meta))

    # the codes base: the latest committed compaction snapshot when one
    # exists (compact_pq_index folded base + appends − tombstones into
    # it and deleted what it superseded), else the build codes
    log = INDEX_LOG.view(spark, base)
    horizon = log.horizon
    codes_sub = f"codes_head/upto={horizon}" if horizon >= 0 else "codes"
    codes = read_source(codes_sub)
    # codes ↔ codebook cross-validation, schema-only (the codes table is
    # the corpus-sized artifact and load deliberately never scans it):
    # pq_encode stamps the producing codebook's fingerprint into the
    # codes column METADATA, parquet persists it (and a memoized schema
    # keeps it), and the manifest carries the build codebook's
    # fingerprint — compare the two
    want_cb = meta.get("cb_sig")
    _check_batch_stamp(codes, want_cb, f"{base}/{codes_sub}")

    # incremental append batches (append_to_pq_index): each lives in its
    # own codes_append/batch=N dir; a batch is valid iff Spark's job
    # commit finished it (_SUCCESS marker) — a killed append is invisible
    # and its replay overwrites the partial dir. Batch stamps get the
    # same schema-only validation as the base codes. Batches at/below the
    # compaction horizon are already inside the snapshot (debris from a
    # crash between snapshot commit and deletion is excluded, not
    # double-counted). Rows carry their log position (_src; the base /
    # snapshot predates every live entry) so tombstones apply in WAL
    # order below.
    codes = codes.withColumn("_src", F.lit(-1).cast("long"))
    app_ids = log.committed("append")
    tomb_ids = log.committed("tombstone")
    if up_to_entry is not None:
        app_ids = [b for b in app_ids if b <= up_to_entry]
        tomb_ids = [t for t in tomb_ids if t <= up_to_entry]
    for bid in app_ids:
        batch = read_source(f"codes_append/batch={bid}")
        _check_batch_stamp(batch, want_cb, f"{base}/codes_append/batch={bid}")
        if set(batch.columns) != set(codes.columns) - {"_src"}:
            raise ValueError(
                f"load_pq_index: append batch {bid} columns "
                f"{batch.columns} do not match the base codes "
                f"{sorted(set(codes.columns) - {'_src'})} — mixed "
                "artifacts"
            )
        codes = codes.unionByName(
            batch.withColumn("_src", F.lit(int(bid)).cast("long"))
        )

    # tombstone deletes (remove_from_pq_index): live tombstones anti-join
    # the assembled codes out of every serve — tombstone-sized and
    # broadcastable, so the filter costs one small-side hash build, never
    # a codes shuffle; compact_pq_index physically purges them later.
    # WAL order: tombstone batch N suppresses an id's rows from entries
    # BEFORE N only (base/snapshot and append batches < N) — an id
    # re-appended AFTER its takedown serves again, exactly as it would
    # after a compaction folded the tombstone away (without the ordering,
    # the same re-append would be silently dead until compaction and then
    # silently alive — temporal semantics must not depend on when
    # maintenance last ran).
    if tomb_ids:
        id_type = codes.schema["id"].dataType
        tombs = None
        for t in tomb_ids:
            one = read_source(f"tombstones/batch={t}").select(
                F.col("id").cast(id_type).alias("_tomb_id"),
                F.lit(int(t)).cast("long").alias("_tomb_src"),
            )
            tombs = one if tombs is None else tombs.unionByName(one)
        codes = codes.join(
            F.broadcast(tombs),
            (F.col("id") == F.col("_tomb_id"))
            & (F.col("_tomb_src") > F.col("_src")),
            "left_anti",
        )
    codes = codes.drop("_src")

    if meta["residual"] and "cell_id" not in codes.columns:
        raise ValueError(
            "load_pq_index: residual index but the codes table has no "
            "cell_id column — re-encode with pq_encode(centroids=...)"
        )
    memo.update(used)
    if up_to_entry is None:
        # a full load read every live source: entries for dirs a
        # compaction folded or superseded are dead weight
        for key in list(memo):
            if key.startswith(f"{qbase}/") and key not in used:
                memo.pop(key, None)
    return PQIndex(codebooks, codes, centroids, dict(meta))


def _load_artifacts(
    spark: SparkSession, base: str, qbase: str, memo: dict, used: dict
) -> tuple[dict, DataFrame, DataFrame | None]:
    """The validated ``(meta, codebooks, centroids)`` of the index at
    ``base``, through the session memo. The key is the listing of all
    three dirs, taken BEFORE any read: a writer racing the load can only
    make the stored fingerprint older than what was read, which the next
    load sees as a miss — never newer content under an old key."""
    fp = tuple(
        _listing(spark, f"{qbase}/{sub}")
        for sub in ("meta", "codebooks", "centroids")
    )
    hit = memo.get(qbase)
    if hit is not None and hit[0] == fp:
        used[qbase] = hit
        return hit[1]

    from pulfa_sausage_factory_spark.io import read_parquet_state

    meta_df = read_parquet_state(spark, f"{base}/meta")
    if meta_df is None:
        raise ValueError(
            f"load_pq_index: no index manifest at {base}/meta — not an "
            "index dir, or a save was killed before the manifest write"
        )
    meta = json.loads(meta_df.limit(1).collect()[0].meta_json)
    if meta.get("format") != _FORMAT:
        raise ValueError(
            f"load_pq_index: manifest format {meta.get('format')!r} != "
            f"supported {_FORMAT} — rebuild the index with this version"
        )
    codebooks = spark.read.parquet(f"{base}/codebooks")
    # grid + carried-config validation from ONE full collect — the
    # codebook table is m × n_codes rows (KBs) and serve-session load
    # latency is what this module exists to minimize; the signature
    # check below reuses these rows instead of re-collecting, and the
    # memo is SEEDED onto the handle so the serve path's own
    # config/signature/grid validations are job-free (round-14 VERDICT
    # item 4: each re-collect of a KB-sized parquet table is a full
    # Spark job, ~100-200 ms of pure scheduling — the measured x3s
    # drift was these jobs accumulating)
    cb_rows = codebooks.collect()
    cache_artifact_rows(codebooks, cb_rows)
    grid_m = 1 + max((r.sub for r in cb_rows), default=-1)
    grid_nc = 1 + max((r.code for r in cb_rows), default=-1)
    if not (grid_m == meta["m"] and grid_nc == meta["n_codes"]
            and len(cb_rows) == meta["m"] * meta["n_codes"]):
        raise ValueError(
            f"load_pq_index: codebook grid ({grid_m}×{grid_nc}, "
            f"{len(cb_rows)} rows) does not match the manifest "
            f"(m={meta['m']}, n_codes={meta['n_codes']}) — mixed artifacts"
        )
    is_res = bool(cb_rows[0].residual) if cb_rows else False
    sig = cb_rows[0].cent_sig if cb_rows else None
    if is_res != bool(meta["residual"]) or sig != meta["cent_sig"]:
        raise ValueError(
            "load_pq_index: codebook's carried residual/fingerprint config "
            f"(residual={is_res}, sig={sig}) disagrees with the manifest "
            f"(residual={meta['residual']}, sig={meta['cent_sig']})"
        )
    # the manifest carries the build codebook's full fingerprint — check
    # the codebooks actually on disk against it
    want_cb = meta.get("cb_sig")
    if want_cb is not None:
        # content-derived, so the local rehydration fingerprints
        # identically to the disk table it was collected from
        disk_cb = _codebook_signature(codebooks)
        if disk_cb != want_cb:
            raise ValueError(
                f"load_pq_index: codebooks on disk (fingerprint {disk_cb}) "
                f"are not the ones the manifest was written for "
                f"({want_cb}) — mixed artifacts"
            )
    centroids = None
    if meta["residual"]:
        centroids = spark.read.parquet(f"{base}/centroids")
        # _centroid_signature reads through the _small_rows memo, which
        # it seeds on this handle — the serve path's signature re-checks
        # and the arrow encode's centroid fetch are job-free after
        got = _centroid_signature(centroids)
        if got != meta["cent_sig"]:
            raise ValueError(
                f"load_pq_index: centroids on disk (sig {got}) are not the "
                f"ones the codebooks were trained on (sig "
                f"{meta['cent_sig']}) — residual codes are meaningless "
                "against other centroids"
            )
    used[qbase] = (fp, (meta, codebooks, centroids))
    return meta, codebooks, centroids


def _check_batch_stamp(codes: DataFrame, want: str | None, where: str) -> None:
    """Schema-only codes↔codebook pairing check (zero execution)."""
    got = codes_stamp(codes)
    if want is None or got is None:
        return  # pre-stamp artifacts — nothing to cross-check
    if got != want:
        raise ValueError(
            f"load_pq_index: codes at {where} were encoded with codebook "
            f"{got}, but this index's codebook fingerprints as {want} — "
            "foreign or stale codes would serve wrong neighbors"
        )


#: the index's append/tombstone write-ahead log: two entry kinds drawing
#: ids from ONE monotone sequence (so a fold has one horizon across
#: both), folded by ``compact_pq_index`` into ``codes_head/upto=N``
INDEX_LOG = statedir.LogLayout(
    kinds={"append": "codes_append", "tombstone": "tombstones"},
    prefix="batch=",
    snapshot="codes_head",
    id_arg="batch_id",
    refusals={
        "negative": "negative — batch ids are non-negative",
        "folded": (
            "at or below the compaction horizon ({horizon}) — its rows "
            "were folded into the codes snapshot, so a replay would "
            "silently duplicate (or re-drop) them; only ids > {horizon} "
            "are replayable"
        ),
        "other_kind": (
            "an attempted {other} batch — appends and tombstones share "
            "one id sequence, and replaying an id as the other kind would "
            "corrupt the log"
        ),
        "reused": (
            "neither a new batch (> {top}) nor a replay of an attempted "
            "one ({own}) — a reused, never-attempted id would silently "
            "shadow history"
        ),
        "unknown": (
            "not an attempted log entry above the compaction horizon "
            "({horizon}) — nothing to abandon"
        ),
        "committed": (
            "a COMMITTED {kind} batch — its entry is serving history, and "
            "deleting it would silently change results; use "
            "remove_from_pq_index for takedowns and compact_pq_index to "
            "fold, never abandon committed entries"
        ),
    },
)


def next_log_id(spark: SparkSession, path: str) -> int:
    """The id the index's append/tombstone WAL would auto-assign next —
    the public RESERVE query for pipelines that must fix an id in their
    own per-batch state BEFORE appending (``curation_pipeline.
    _append_serve_index``): the same ``LogView.next_id`` the WAL's own
    ``batch_id=None`` path uses, so reservation and log discipline agree
    by construction. Pair with ``fsutil.mkdirs`` on the returned id's
    ``codes_append/batch=<id>`` dir to make the reservation visible to
    concurrent auto-assigners."""
    return INDEX_LOG.view(spark, path).next_id()


def append_to_pq_index(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    batch_id: int | None = None,
    id_col: str | None = None,
    vec_col: str | None = None,
    assign_impl: str = "expr",
    lease=None,
) -> dict:
    """Incrementally extend a persisted index with a new corpus batch —
    encode ONLY the new vectors against the existing (validated)
    codebooks/centroids and land their codes as
    ``codes_append/batch=<id>``; the full rebuild a growing corpus would
    otherwise force re-encodes everything. Serving via ``load_pq_index``
    → ``knn_from_index`` is then identical to an index whose build corpus
    had included the batch (encode is deterministic given the artifacts —
    pinned by test).

    Serving contract: pass the GROWN corpus (build rows ∪ appended rows)
    to ``knn_from_index`` — the exact-rerank stage fetches raw vectors by
    inner join on candidate id, so appended candidates missing from the
    corpus argument are silently dropped from the top-k (the shortlist
    stage itself reads only the index's codes and needs no raw vectors).

    The replay discipline is ``statedir.LogView.claim``, shared with the
    publish journal: ``batch_id=None`` auto-assigns the next id after
    every ATTEMPTED log entry (append or tombstone — one shared
    sequence); an explicit id must be new (> every attempted id) or an
    ATTEMPTED append id (a replay — the overwrite rewrites the same
    rows, at-least-once safe; judging replays by directory existence
    rather than commit markers means a killed batch stays repairable
    even after later batches commit — round-8 ADVICE fix). Ids at/below
    the compaction horizon (``compact_pq_index``) are refused: their rows live in the folded
    snapshot. A batch is committed iff Spark's job-commit ``_SUCCESS``
    marker landed, so a killed append is invisible to loads and its
    replay repairs the dir — the manifest is never rewritten, which
    keeps a crash here from ever making a healthy index unloadable.

    Drifted configs refuse loudly: ``load_pq_index`` cross-validates the
    artifacts first, ``pq_encode`` refuses mismatched codebook↔centroid
    pairings, and a wrong-dimension batch is caught here before any
    executor work. Appending ids that already exist in the index is the
    caller's contract to avoid (same as any parquet append); dedup
    belongs upstream in the ingest ledger.

    Returns ``{"batch_id": id, "rows": n}``.
    """
    from pulfa_sausage_factory_spark import fsutil

    base = path.rstrip("/")
    with statedir.lease_scope(spark, base, "append_to_pq_index",
                              lease=lease):
        # artifacts only (round 15): the append encodes NEW rows against
        # the validated codebooks/centroids and never reads existing
        # codes — assembling them cost O(live appends) PER BATCH under
        # serve_index_append
        index = load_pq_index(spark, path, artifacts_only=True)
        id_col = id_col or index.meta.get("id_col", "vec_id")
        vec_col = vec_col or index.meta.get("vec_col", "embedding")
        dim = index.meta.get("dim")
        if dim is not None:
            probe = new_rows.select(
                F.size(vec_col).alias("d")
            ).limit(1).collect()
            if probe and probe[0].d != dim:
                raise ValueError(
                    f"append_to_pq_index: new rows carry {probe[0].d}-dim "
                    f"vectors but the index was built for dim={dim} — "
                    "these cannot be encoded against its codebooks"
                )
        log = INDEX_LOG.view(spark, base)
        batch_id = log.claim("append", batch_id, "append_to_pq_index")
        codes = pq_encode(
            new_rows, index.codebooks, id_col=id_col, vec_col=vec_col,
            centroids=index.centroids, assign_impl=assign_impl,
        )
        bdir = log.path("append", batch_id)
        # overwrite also repairs a marker-less partial dir from a killed
        # run
        fsutil.delete(spark, bdir)
        codes.write.mode("overwrite").parquet(bdir)
        n = spark.read.parquet(bdir).count()
        return {"batch_id": int(batch_id), "rows": n}


def remove_from_pq_index(
    spark: SparkSession,
    path: str,
    ids,
    batch_id: int | None = None,
    lease=None,
) -> dict:
    """Tombstone deletes for a persisted index — the takedown half of the
    lifecycle: curation and the ingest ledgers can drop documents, but
    until round 8 a persisted index kept serving their ids forever.
    ``ids`` (an iterable of ids, or a one-column DataFrame — tombstones
    are takedown-sized, never corpus-sized) lands as
    ``tombstones/batch=<id>``; ``load_pq_index`` anti-joins live
    tombstones out of the assembled codes (broadcast — the codes table
    never reshuffles), so a removed id can never reach a shortlist, and
    ``compact_pq_index`` later purges the rows physically. Tombstones
    apply in WAL order: batch ``N`` suppresses the id's rows from log
    entries BEFORE ``N`` only, so re-appending the id afterwards serves
    it again — the same outcome compaction would produce, independent of
    when maintenance last ran.

    Append and tombstone batches share ONE monotone id sequence and the
    same ``_SUCCESS``/attempted-dir replay discipline (``batch_id=None``
    auto-assigns; explicit ids must be new or a replay of an attempted
    tombstone batch; ids at/below the compaction horizon are refused —
    the fold already applied them). Removing an id the index never held
    is a harmless no-op (the anti-join matches nothing), same as
    deleting an absent file.

    Returns ``{"batch_id": id, "rows": n}``.
    """
    from pulfa_sausage_factory_spark import fsutil

    base = path.rstrip("/")
    with statedir.lease_scope(spark, base, "remove_from_pq_index",
                              lease=lease):
        index = load_pq_index(spark, path)  # artifact cross-validation
        id_type = index.codes.schema["id"].dataType
        if isinstance(ids, DataFrame):
            if len(ids.columns) != 1:
                raise ValueError(
                    f"remove_from_pq_index: ids DataFrame has columns "
                    f"{ids.columns} — pass exactly one id column"
                )
            tomb = ids.select(
                F.col(ids.columns[0]).cast(id_type).alias("id")
            )
        else:
            tomb = spark.createDataFrame(
                [(str(i),) for i in ids], "id string"
            ).select(F.col("id").cast(id_type).alias("id"))
        tomb = tomb.distinct()
        log = INDEX_LOG.view(spark, base)
        batch_id = log.claim("tombstone", batch_id, "remove_from_pq_index")
        bdir = log.path("tombstone", batch_id)
        fsutil.delete(spark, bdir)  # repair a marker-less partial dir
        tomb.write.mode("overwrite").parquet(bdir)
        n = spark.read.parquet(bdir).count()
        return {"batch_id": int(batch_id), "rows": n}


def abandon_log_entry(spark: SparkSession, path: str, batch_id: int,
                      lease=None) -> dict:
    """Deliberately abandon an ATTEMPTED-UNCOMMITTED log entry — a killed
    append/tombstone awaiting a redelivery that will never come, or an
    orphaned reservation (``_append_serve_index`` crashed between its
    mkdir and its idxmap write) — so ``compact_pq_index`` can advance
    past it. This is the "abandon" half of the replay-or-abandon
    contract made an API: operators should never hand-delete dirs inside
    the index (deleting a COMMITTED batch dir by hand silently drops
    served rows with no error anywhere — this refuses exactly that, and
    points takedowns at ``remove_from_pq_index``).

    Only abandon when the producing writer is confirmed dead: the id
    returns to the assignable pool, so a redelivery arriving AFTER the
    abandon would land on (and be overwritten by / overwrite) whatever
    new batch took the id — the operator is asserting that cannot
    happen.

    Returns ``{"batch_id": id, "kind": "append" | "tombstone"}``."""
    base = path.rstrip("/")
    with statedir.lease_scope(spark, base, "abandon_log_entry",
                              lease=lease):
        kind = INDEX_LOG.view(spark, base).abandon(
            batch_id, "abandon_log_entry"
        )
        return {"batch_id": int(batch_id), "kind": kind}


def compact_pq_index(spark: SparkSession, path: str, lease=None) -> dict:
    """Fold the index's append/tombstone log into one codes snapshot —
    the growth bound ``append_to_pq_index`` deliberately left open (every
    load lists, stamp-checks, and unions EVERY batch dir; a daily-append
    deployment accumulates hundreds): the live codes view (base-or-
    snapshot ∪ committed appends − live tombstones, exactly what
    ``load_pq_index`` serves) is written as ``codes_head/upto=<N>`` with
    ``N`` = the highest folded log id, then the folded batch dirs, the
    superseded older snapshot, and the superseded plain ``codes`` dir
    are deleted. Tombstoned rows are physically purged by the fold.
    Serving before and after is identical by construction (pinned by
    test); what is given up is replaying folded batch ids —
    ``append_to_pq_index`` / ``remove_from_pq_index`` refuse ids at or
    below the horizon loudly (mirror of the journal's
    ``compact_journal`` trade).

    Crash-safe ordering is the shared ``statedir`` discipline: the
    snapshot's validity marker is created strictly AFTER its rename into
    place, nothing is deleted before the marker exists, and debris from
    a crash between marker and sweep is ignored by loads (horizon
    filter) and removed by the next compaction. The manifest is never
    touched — a crash anywhere leaves a loadable index.

    The horizon never advances past a repairable hole: a KILLED
    (attempted, uncommitted) batch awaiting its at-least-once redelivery
    caps the fold strictly below its id — folding past it would delete
    the marker-less dir and then refuse the redelivery as
    below-horizon, stranding that batch's rows forever (the same
    stranding the attempted-dir replay rule exists to prevent, which a
    careless compaction would reintroduce). Entries above the cap stay
    live, un-folded batches; the returned ``pending`` lists the blocking
    ids so an operator knows to replay-or-abandon them.

    Returns ``{"horizon": id, "snapshot_rows": n|None, "folded_batches":
    k, "removed_dirs": m, "pending": [...]}`` (``snapshot_rows=None``
    when there was nothing to fold — the call still sweeps debris).
    """
    from pulfa_sausage_factory_spark import fsutil

    base = path.rstrip("/")
    with statedir.lease_scope(spark, base, "compact_pq_index",
                              lease=lease) as held:
        log = INDEX_LOG.view(spark, base)
        horizon, pending = log.horizon, log.pending
        fold = log.foldable(log.committed())

        def _sweep(up_to: int) -> int:
            removed = log.sweep(up_to)
            if up_to >= 0 and fsutil.exists(spark, f"{base}/codes"):
                # any committed snapshot supersedes the original build
                # codes (the corpus-sized artifact — reclaiming it is the
                # point)
                fsutil.delete(spark, f"{base}/codes")
                removed += 1
            return removed

        if not fold:
            return {"horizon": horizon, "snapshot_rows": None,
                    "folded_batches": 0, "removed_dirs": _sweep(horizon),
                    "pending": pending}
        up_to = max(fold)
        # the bounded live view IS the fold result — assembling it through
        # the loader keeps "what compaction writes" and "what serving
        # reads" one code path (and re-validates the artifacts); the bound
        # only matters when a pending hole capped the fold below later
        # committed entries
        live = load_pq_index(spark, path, up_to_entry=up_to)
        n_snap = statedir.write_snapshot(
            spark, live.codes, f"{base}/codes_head", up_to, lease=held
        )
        return {"horizon": int(up_to), "snapshot_rows": n_snap,
                "folded_batches": len(fold),
                "removed_dirs": _sweep(up_to), "pending": pending}


def retrain_pq_index(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    m: int | None = None,
    n_codes: int | None = None,
    n_cells: int | None | str = "keep",
    iters: int = 2,
    ivf_iters: int = 3,
    sample_fraction: float = 1.0,
    assign_impl: str = "arrow",
    lease=None,
) -> dict:
    """Retrain a persisted index IN PLACE from the current serving
    corpus — the executable form of the drift remedy RECALL.md §3 and
    the staleness report row prescribe (round 14: the maintenance
    planner previously named a multi-step recipe here; every plan row
    must name a runnable verb). Appends encode against codebooks and
    centroids FROZEN at build time, and measured recall holds through
    large IN-distribution appends but breaks under distribution SHIFT
    at any appended fraction — the fix is retraining quantizers on what
    the corpus looks like NOW, which this verb does end-to-end: train
    new coarse centroids + codebooks from ``corpus``, re-encode it, and
    swap the whole index directory via the crash-safe double-rename
    (``statedir.replace_dir``) — a crash anywhere leaves the OLD index
    loadable (or the completed new one), never an unloadable dir; the
    mid-swap window heals back to the old copy
    (``recover_replaced_dir``, exercised by the statedir suite).

    ``corpus`` is the source of truth: the retrained index serves
    exactly its rows. Pass the FULL current serving corpus — base rows
    plus every appended batch's vectors, minus retracted documents
    (for a pipeline-managed index: the admitted documents' embeddings).
    Rows the corpus argument lacks are gone from the index; takedowns
    baked in this way need no tombstones afterwards.

    WAL semantics: the new codes land at ``codes_head/upto=<N>`` where
    ``N`` is the highest id the index WAL ever committed (folded or
    live) — so a pipeline batch whose reserved id was consumed before
    the retrain NO-OPS on replay (its rows are in the corpus by the
    contract above), and the next auto id continues past ``N``. Live
    append/tombstone entries are folded into the rebuild (their net
    effect must be reflected in ``corpus``); UNCOMMITTED WAL ids refuse
    the retrain loudly — a killed append's at-least-once redelivery
    carries OLD-codebook codes that the new manifest would reject at
    load (a bricked index), so replay-or-abandon them first, exactly
    the ``compact_pq_index`` pending discipline.

    Defaults re-use the old manifest's geometry (``m``/``n_codes``/
    ``dim``/``id_col``/``vec_col``; ``n_cells="keep"`` preserves
    flat-vs-IVF and the cell count, ``"auto"`` re-sizes from the new
    corpus — the right choice when the corpus has grown decades).
    Returns ``{"train_rows", "horizon", "folded_entries", "n_cells"}``.
    """
    from pulfa_sausage_factory_spark import fsutil

    base = path.rstrip("/")
    with statedir.lease_scope(spark, base, "retrain_pq_index",
                              lease=lease) as held:
        old = load_pq_index(spark, base)  # cross-validates what we replace
        meta = old.meta
        log = INDEX_LOG.view(spark, base)
        horizon, pending, live = log.horizon, log.pending, log.committed()
        if pending:
            raise ValueError(
                f"retrain_pq_index: uncommitted WAL ids {pending[:5]} — "
                "their at-least-once redeliveries carry codes encoded "
                "with the OLD codebooks, which the retrained manifest "
                "would refuse at load. Replay the batches or "
                "abandon_log_entry them, then retrain."
            )
        # the corpus must not lazily read from the dir being swapped
        # (same hazard save_pq_index refuses): its encode executes
        # inside the writer below, racing the double-rename
        bsch, bauth, bpath = fsutil.uri_key(
            fsutil.qualified_uri(spark, base)
        )
        bpath = bpath.rstrip("/") + "/"
        try:
            files = corpus.inputFiles()
        except Exception:
            files = []
        for f in files:
            key = fsutil.uri_key(f)
            if key is None:
                key = fsutil.uri_key(fsutil.qualified_uri(spark, f))
            if (key[0] == bsch and key[1] == bauth
                    and key[2].startswith(bpath)):
                raise ValueError(
                    f"retrain_pq_index: corpus reads from the index dir "
                    f"{base} — materialize it (localCheckpoint) first"
                )
        new_upto = max([horizon] + live)
        if n_cells == "keep":
            n_cells = meta["n_cells"]
        idx = build_pq_index(
            corpus,
            m=int(m if m is not None else meta["m"]),
            n_codes=int(n_codes if n_codes is not None
                        else meta["n_codes"]),
            n_cells=n_cells,
            iters=iters, ivf_iters=ivf_iters,
            sample_fraction=sample_fraction,
            id_col=meta["id_col"], vec_col=meta["vec_col"],
            dim=int(meta["dim"]), assign_impl=assign_impl,
        )
        # manifest provenance: which artifacts this replaced, and the
        # WAL position the rebuild folded through
        idx.meta["retrain_of"] = meta.get("cb_sig")
        idx.meta["retrain_horizon"] = int(new_upto)

        def _write(tmp: str) -> None:
            idx.codebooks.write.mode("overwrite").parquet(
                f"{tmp}/codebooks"
            )
            if idx.centroids is not None:
                idx.centroids.write.mode("overwrite").parquet(
                    f"{tmp}/centroids"
                )
            codes_dst = (
                f"{tmp}/codes_head/upto={new_upto}" if new_upto >= 0
                else f"{tmp}/codes"
            )
            # Spark's own job-commit _SUCCESS in the snapshot dir is the
            # horizon marker snapshot_horizon requires — the whole tmp
            # dir swaps in atomically-with-heal, so the write-then-
            # rename marker dance write_snapshot does on a LIVE dir is
            # replace_dir's job here
            idx.codes.write.mode("overwrite").parquet(codes_dst)
            tiny_df(
                spark, [(json.dumps(idx.meta),)], "meta_json string"
            ).write.mode("overwrite").parquet(f"{tmp}/meta")
            # the index-dir LEASE RECORD lives inside the dir being
            # swapped — carry a copy (same token + nonce, fresh mtime)
            # into the replacement, or the swap would destroy the live
            # lease: a passed-through run lease's next check() would
            # read absence as LeaseFenced, and a transient scope's
            # release() could not verify ownership. The heal windows
            # stay correct: a crash before the swap leaves the original
            # record live; mid-swap heal restores the old dir WITH it.
            rec = fsutil.read_text(
                spark, f"{base}/{statedir.LEASE_DIR}/epoch={held.token}"
            )
            if rec is not None:
                fsutil.write_text(
                    spark,
                    f"{tmp}/{statedir.LEASE_DIR}/epoch={held.token}",
                    rec,
                )

        statedir.replace_dir(spark, base, _write, lease=held)
        return {
            "train_rows": int(idx.meta["train_rows"]),
            "horizon": int(new_upto),
            "folded_entries": len(live),
            "n_cells": idx.meta["n_cells"],
        }


def pq_index_report(spark: SparkSession, path: str) -> DataFrame:
    """Artifact-level report of a persisted index as a small queryable
    DataFrame — the ``curation_report_df`` convention applied to the ANN
    surface: one row per artifact (manifest, codebooks, centroids, the
    corpus-sized codes table, every append batch) with parquet file
    count + bytes from the FileSystem LISTING (nothing is scanned — at
    100 TB "how big is my index, which append batches are live" must not
    cost a codes pass). The one exception is the ``appended_staleness``
    row (round 11), which reads parquet FOOTER row counts — metadata,
    zero data pages, and ONE unioned scan job each for appends and live
    tombstones regardless of how many batches are live (round-11 VERDICT
    item 6: a per-batch count loop was O(batches) jobs per report call)
    — to compare appended rows against the manifest's ``train_rows``;
    while tombstones are live the appended figure is an upper bound
    (they may cover appended rows) and the row says so. ``committed`` is False for an append batch whose
    job-commit marker is missing (a killed append awaiting replay —
    loads skip it); such rows above the horizon additionally say
    "blocks compaction" in ``detail`` and roll up into one ``pending``
    summary row, mirroring ``compact_pq_index``'s return dict. ``detail``
    carries the manifest JSON on the ``meta`` row so config questions
    are answerable from the same frame.

    Works on any readable index dir; raises only when no manifest exists
    (not an index)."""
    from pulfa_sausage_factory_spark import fsutil
    from pulfa_sausage_factory_spark.io import read_parquet_state

    base = path.rstrip("/")
    meta_df = read_parquet_state(spark, f"{base}/meta")
    if meta_df is None:
        raise ValueError(
            f"pq_index_report: no index manifest at {base}/meta — not an "
            "index dir, or a save was killed before the manifest write"
        )
    meta_json = meta_df.limit(1).collect()[0].meta_json
    rows = []

    def add(artifact, sub, committed=True, detail=""):
        n, b = fsutil.parquet_usage(spark, f"{base}/{sub}")
        if n or committed is False:
            rows.append((artifact, n, b, committed, detail))

    add("meta", "meta", detail=meta_json)
    add("codebooks", "codebooks")
    add("centroids", "centroids")
    add("codes", "codes")
    log = INDEX_LOG.view(spark, base)
    horizon = log.horizon
    # compaction snapshots (compact_pq_index): committed = post-rename
    # validity marker; detail flags which one is the serving horizon and
    # which are debris awaiting the next compaction's sweep
    for up, ok in sorted(log.snapshots.items()):
        sub = f"codes_head/upto={up}"
        add(sub, sub, committed=ok,
            detail="serving" if up == horizon else "superseded")
    # an uncommitted entry above the horizon is a killed (or reserved-
    # but-never-appended) batch: compact_pq_index caps its fold strictly
    # below the lowest such id, so the report says so on the row itself
    # instead of leaving the operator to infer it from committed=False
    # (round-8 VERDICT item 5 — the return-dict `pending` made queryable)
    pending = log.pending
    for kind, sub in INDEX_LOG.kinds.items():
        for bid, committed in sorted(log.entries[kind].items()):
            if bid <= horizon:
                detail = "folded"
            elif not committed:
                detail = "blocks compaction — replay or abandon"
            else:
                detail = ""
            add(f"{sub}/batch={bid}", f"{sub}/batch={bid}",
                committed=committed, detail=detail)
    if pending:
        rows.append((
            "pending", 0, 0, False,
            f"uncommitted log ids {sorted(pending)} cap compaction below "
            f"{min(pending)}",
        ))
    # appended-fraction / staleness row (round 11): appends encode new
    # vectors against codebooks+centroids FROZEN at build time, so recall
    # decays silently as the appended fraction grows (measured decay and
    # the retrain threshold: RECALL.md §append, `python recall.py
    # append`). The manifest records the build corpus size (train_rows);
    # this row compares it to what has been appended since. Row counts
    # here come from parquet FOOTERS (rowCount metadata — batch-sized
    # dirs plus, after a compaction, the snapshot; zero data pages are
    # read, keeping the report's no-codes-scan promise). After a
    # compaction the appended estimate is `snapshot_rows - train_rows`
    # plus live appends — a LOWER bound once tombstones of build rows
    # have folded away, stated on the row.
    meta = json.loads(meta_json)
    train = meta.get("train_rows")
    # ONE unioned footer-count scan over every live append batch (round-11
    # VERDICT item 6): a per-batch count() loop is one Spark job per live
    # batch — O(batches) jobs per report call at thousands of
    # pre-compaction batches. read.parquet(*paths).count() reads the same
    # footers (zero data pages) in a single job regardless of batch count.
    app_paths = [log.path("append", b) for b in log.committed("append")]
    app_rows = (
        spark.read.parquet(*app_paths).count() if app_paths else 0
    )
    if train is not None:
        # live tombstones may cover appended rows (round-11 ADVICE): the
        # gross append count then OVERSTATES the live appended fraction.
        # Tombstoned ids are not attributable to base vs appended rows
        # from metadata alone (they name ids, not batches), so the
        # figure is reported as an upper bound with the live tombstone
        # row count alongside — never silently subtracted (that would
        # swing the error the other way when tombstones cover base
        # rows). Computed only on this branch: without train_rows the
        # staleness row that consumes it can't exist, and the footer
        # job would be one pointless Spark job per report call.
        tomb_paths = [
            log.path("tombstone", b) for b in log.committed("tombstone")
        ]
        tomb_rows = (
            spark.read.parquet(*tomb_paths).count() if tomb_paths else 0
        )
        folded = 0
        if horizon >= 0:
            folded = max(
                0,
                spark.read.parquet(log.snapshot_path()).count()
                - int(train),
            )
        appended = app_rows + folded
        frac = appended / train if train else float("inf")
        detail = (
            f"~{appended} rows appended over train_rows={train} "
            f"(fraction {frac:.2f}); appends encode against codebooks "
            "frozen at build — RECALL.md §append has the measured "
            "recall-vs-appended-fraction decay and retrain threshold"
        )
        if horizon >= 0:
            detail += (
                "; post-compaction estimate is a lower bound (tombstoned "
                "build rows fold away)"
            )
        if tomb_rows:
            detail += (
                f"; upper bound while {tomb_rows} tombstoned ids are live "
                "(tombstones may cover appended rows)"
            )
        rows.append(("appended_staleness", 0, 0, True, detail))
    elif app_rows:
        rows.append((
            "appended_staleness", 0, 0, True,
            f"{app_rows} live appended rows; train_rows unknown "
            "(pre-round-11 manifest) — rebuild or re-save to track "
            "staleness",
        ))
    # the index dir's writer lease (round 12) is observable here like
    # every other artifact — "who is mutating this index / is a crashed
    # holder about to be taken over" without listing _lease by hand
    lease_detail = statedir.lease_report_detail(spark, base)
    if lease_detail is not None:
        rows.append(("_lease", 0, 0, True, lease_detail))
    return spark.createDataFrame(
        rows,
        "artifact string, files int, bytes long, committed boolean, "
        "detail string",
    )


def knn_from_index(
    index: PQIndex,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 200,
    n_probe: int | None = None,
    id_col: str | None = None,
    vec_col: str | None = None,
    check_corpus: bool = False,
) -> DataFrame:
    """Serve top-k from a built/loaded index through the recommended
    two-stage path (RECALL.md): quantized shortlist (IVFADC when the index
    is residual, full-scan ADC otherwise) → exact cosine rerank. ``corpus``
    supplies raw vectors ONLY for the output-sensitive rerank fetch
    (queries × shortlist rows) — the corpus-wide pass reads the index's
    m-byte codes, which is the point of persisting them. With an
    APPENDED index (``append_to_pq_index``), ``corpus`` must cover the
    appended rows too: the rerank fetch inner-joins candidate ids against
    it, so ids the corpus argument lacks drop out of the top-k silently —
    ``check_corpus=True`` turns that documented silent drop into a loud
    error (every shortlist id must resolve in ``corpus``; one
    queries×shortlist-sized anti-join probe, r7 VERDICT item 4).

    Column names default to what the index was BUILT with (carried in the
    manifest) — pass overrides only when the serving corpus is a renamed
    view of the build corpus."""
    id_col = id_col or index.meta.get("id_col", "vec_id")
    vec_col = vec_col or index.meta.get("vec_col", "embedding")
    if n_probe is None:
        # an auto-sized build records the probe budget matched to its
        # cell count (suggest_ann_config); fixed-size builds keep the
        # documented default
        n_probe = index.meta.get("n_probe_suggested", 4)
    return knn_pq_rerank(
        corpus, queries, index.codebooks, k=k, shortlist=shortlist,
        id_col=id_col, vec_col=vec_col, codes_df=index.codes,
        centroids=index.centroids, n_probe=n_probe,
        check_corpus=check_corpus,
    )
