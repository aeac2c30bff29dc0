"""End-to-end corpus curation pipeline — the LLM-data assembly line this
engine's extension operators exist for, composed the way the reference
composes its 7-stage EAD pipeline (staged DAG, per-stage materialization,
run-report diagnostics; cf. ``bin/main.py:649-711`` → ``ead_pipeline.py``).

Stages (each optional via config, each reported):

  clean → quality/language/classifier gates → exact dedup → near-dup
  dedup (MinHash LSH + connected components, keep canonical) →
  benchmark decontamination → deterministic sampling → sequence packing
  → ordered shard export

Scale design: every gate is a narrow projection or a decision-table
semi/anti-join (the corpus never reshuffles for a gate); dedup shuffles
digests/signatures, not text; the contamination index broadcasts; packing
is one window pass per shard; the final write is the only globally ordered
shuffle. Stage boundaries ``localCheckpoint`` (superseded stages released
eagerly) so each stage computes once and the plan stays constant-size —
at 100 TB swap for reliable ``checkpoint``/parquet stage dirs, exactly as
``ead_pipeline`` documents for its stages.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import lm, sampling, text
from ..operators import dedup, relational
from ..session import release_local_checkpoint
from ..sinks import layout

#: batch-size cap for the scan-state join flips of the ingest dedup legs
#: (relational.anti_join_scan_state / inner_join_scan_state): the flip
#: broadcasts batch-derived frames — md5 digests (~32 B/doc) and
#: (id, band-bucket) pairs (8 × ~24 B/doc) — so 1M docs is ~32 MB and
#: ~192 MB respectively, comfortably inside executor memory, while the
#: avoided cost is shuffling the ENTIRE ledger/bands/sigs state per
#: micro-batch. A bulk backfill above the cap falls back to the plain
#: shuffled joins (correct, just the old cost).
_SCAN_STATE_BCAST_MAX_ROWS = 1_000_000

#: payload cap for the flips whose broadcast scales beyond one small row
#: per doc — a row count alone does not bound their payload. One unit
#: ≈ 8 bytes of raw broadcast payload; 8M units ≈ 64 MB raw (a few
#: hundred MB as a HashedRelation — safe at the 4g-driver
#: stress posture). Per leg:
#: MinHash band pairs = n_in × n_bands units; semantic vectors =
#: n_in × (dim + 2); overlap = the batch's sampled-fingerprint count
#: (measured off the already-checkpointed fps frame — no static bound
#: exists, fps/doc varies with text length ÷ mod). A doc-count-only
#: gate would force-broadcast up to 1M dim-sized float arrays (~GBs
#: hashed) on the semantic leg.
_SCAN_STATE_BCAST_MAX_UNITS = 8_000_000


def _fits_broadcast(rows: int, units: int = 0) -> bool:
    """The one scan-state gate: may a batch-derived frame of ``rows`` rows
    and ``units`` payload units be broadcast? Reads the caps at call time,
    so a monkeypatched cap routes every leg to its plain-join plan."""
    return (rows <= _SCAN_STATE_BCAST_MAX_ROWS
            and units <= _SCAN_STATE_BCAST_MAX_UNITS)


#: every incremental-ingest state dir under a state dir, one entry each:
#: ``(dir, the column a takedown matches its rows on — None where
#: takedowns keep the rows, "id_col" for cfg.id_col — and the
#: CurationConfig flag that makes the ingest write it, None = always)``.
#: Ledgers first, the corpus last: the order every verb heals, scrubs,
#: probes and reports them in.
STATE_DIRS = (
    ("ledger", "digest", None),
    ("sigs", "id", "neardup_ledger"),
    ("bands", "old_id", "neardup_ledger"),
    ("semvecs", "old_id", "semantic_ledger"),
    ("idxmap", None, "serve_index_append"),
    ("fps", "old_id", "overlap_ledger"),
    ("retracted", None, None),
    ("overlap_drops", None, "overlap_drop_audit"),
    ("corpus", "id_col", None),
)

#: the overlap ledger's winnow window (k-gram hashes per window); pinned
#: with ``overlap_k`` and the sampling mod in each state dir's ``fps_meta``
_OVERLAP_W = 8

#: hash shards of the packing stage (one greedy window pass each)
_PACK_SHARDS = 32


def _drop_cluster_losers(docs: DataFrame, pairs: DataFrame, icol: str):
    """``docs`` minus every non-canonical member of the connected
    components of the ``(id_a, id_b)`` near-dup ``pairs`` — each
    component's minimum id survives (the within-batch rule of the batch
    DAG and of every ingest leg)."""
    losers = (
        dedup.dedup_clusters(pairs)  # (doc_id, canonical_id) per doc
        .filter(F.col("doc_id") != F.col("canonical_id"))
        .select(F.col("doc_id").alias(icol))
    )
    return docs.join(losers, icol, "left_anti")


@dataclass
class CurationConfig:
    """Knobs for one curation run; defaults keep every stage on."""

    min_quality: float = 0.3
    use_gopher_gates: bool = False  # Rae et al. 2021 named rule set
    gopher_overrides: dict | None = None  # threshold kwargs for gopher_rules
    use_repetition_gates: bool = False  # Gopher Table-A1 repetition family
    repetition_overrides: dict | None = None  # signal → max overrides
    allowed_langs: tuple[str, ...] = ()  # empty = no language gate
    clf_weights: dict | None = None  # None = no classifier gate
    clf_dim: int = 64
    clf_min_logit: float = 0.0
    neardup_method: str = "minhash"  # "minhash" | "simhash" | "semantic" | "none"
    neardup_threshold: float = 0.5  # minhash est-Jaccard floor
    semdedup_threshold: float = 0.95  # semantic: cosine removal floor
    semdedup_cells: int = 16  # semantic: k-means cell count
    #: path of a persisted ANN index (ann_index.save_pq_index) whose coarse
    #: centroids the semantic stage reuses instead of deriving cells per
    #: run — the cross-run artifact-reuse analog of what the persisted
    #: index did for serving (validated load; flat indexes refuse). A
    #: centroid DataFrame can also be passed directly to run_curation via
    #: semdedup_centroids=.
    semdedup_index_path: str | None = None
    neardup_ledger: bool = False  # incremental ingest: cross-run MinHash dedup
    #: incremental ingest: cross-run SEMANTIC dedup (SemDeDup's cosine rule
    #: across batches AND runs). Requires ``semdedup_index_path`` — the
    #: cells every batch assigns into must be the SAME trained centroids
    #: forever, so they come from a persisted, validated index artifact,
    #: never a per-batch derivation (drifting cells would silently miss
    #: cross-run pairs). Admitted documents' in-engine embeddings persist
    #: per cell (``semvecs/``); new batches compare within-cell only.
    semantic_ledger: bool = False
    #: incremental ingest: keep the persisted SERVING index in step with
    #: the admitted corpus — each batch's admitted embeddings (the
    #: semantic ledger's own vectors, same dimension and family as the
    #: index by that ledger's contract) are appended to
    #: ``semdedup_index_path`` via ``ann_index.append_to_pq_index``.
    #: Requires ``semantic_ledger``. At-least-once safe: the index log id
    #: for each ingest batch is RESERVED in ``idxmap/batch_id=N`` before
    #: the append, so a replayed batch reuses its id (the append's own
    #: replay discipline overwrite-repairs) instead of auto-appending a
    #: duplicate copy. The index becomes pipeline-managed — manual
    #: appends/tombstones issued between a failed batch and its
    #: redelivery can collide with the reservation (refused loudly by
    #: the id discipline, never silently).
    serve_index_append: bool = False
    #: incremental ingest: cross-run SUBSTRING-OVERLAP dedup — the lexical
    #: family the other ledgers miss: a document that lifts a paragraph
    #: into otherwise-new text has LOW whole-document Jaccard (MinHash
    #: admits it) and often low cosine (the semantic ledger admits it),
    #: but every shared span of length >= overlap_k+_OVERLAP_W-1 chars
    #: contributes shared winnowed fingerprints (Schleimer et al.,
    #: SIGMOD'03 — ``text.winnow_fingerprints_df``). Admitted docs
    #: persist their mod-sampled fingerprints (``fps/`` — one row per
    #: ~overlap_sample_mod·(w+1)/2 chars of admitted text: at the
    #: defaults ~1 row / 72 chars, i.e. a DOUBLE-DIGIT-percent-of-corpus
    #: state, the honest cost of substring-level evidence — state size,
    #: per-batch join volume, AND detection granularity all scale as
    #: 1/overlap_sample_mod, so raise the mod as the corpus grows and
    #: compact_ingest_state keeps the dir folded); a new doc drops when
    #: it shares >= ``overlap_min_shared``
    #: sampled fingerprints with ANY single admitted doc. Within-batch
    #: first (connected components, canonical min id — the same rule as
    #: the MinHash leg), then cross-batch/run via an equi-join on fp.
    #: Fingerprints appearing in more than ``overlap_fp_df_cap`` docs are
    #: boilerplate, not copying evidence, and are excluded on BOTH sides
    #: (also bounds the join fan-out on viral fps). Defaults: k=16, w=8,
    #: mod-16 sampling → ~1 sampled fp per ~72 shared chars, so
    #: min_shared=4 reliably flags spans upwards of a few hundred chars.
    #: ``overlap_sample_mod``: keep fps with ``fp % mod == 0``. Accepts
    #: ``"auto"``: resolved once per state dir via
    #: ``text.suggest_overlap_config()`` (catch-600-char-lifts default →
    #: mod 16 today) and PERSISTED in ``fps_meta`` — the mod must be
    #: identical at write and probe time across every run of a state dir
    #: (sampling only one side silently zeroes the match rate), so later
    #: batches adopt the persisted value even if the auto formula
    #: changes, and an EXPLICIT mod/k/w that contradicts an existing
    #: state dir's meta is refused loudly instead of silently missing
    #: every pair. Size a deployment's own knobs with
    #: ``suggest_overlap_config`` (detection floor + state budget →
    #: mod); OVERLAP.md documents measured catch rates per operating
    #: point.
    overlap_ledger: bool = False
    overlap_min_shared: int = 4
    overlap_k: int = 16  # fingerprint k-gram length (chars)
    overlap_sample_mod: int | str = 16
    overlap_fp_df_cap: int = 64  # fps in more docs than this are boilerplate
    #: opt-in ADAPTIVE evidence floor for short batch docs: a
    #: short doc wholesale-copied out of an admitted doc carries too few
    #: sampled fps to reach overlap_min_shared (a 150-char body has ~2
    #: at the defaults) yet slips every other ledger too (different
    #: digest; whole-doc Jaccard vs the long source is low; cosine
    #: likewise). With a fraction f set, the CROSS-RUN leg also drops a
    #: doc when ONE admitted doc shares >= max(2, ceil(f·own)) of the
    #: doc's OWN sampled (non-boilerplate) fps — "most of this doc's
    #: evidence points at one admitted doc" — while long docs keep the
    #: absolute threshold (the per-doc threshold is the MIN of the two
    #: rules, so it only ever gets more sensitive). The floor of 2
    #: keeps single-fp coincidences (one shared 23-char phrase) from
    #: deciding alone. Within-batch the absolute rule stays: the
    #: min-id canonical rule would drop the LONG original of an
    #: asymmetric containment pair. Catch/false-positive rates per doc
    #: length: OVERLAP.md §short-docs (python overlap.py short).
    #: None = absolute threshold only.
    overlap_short_doc_frac: float | None = None
    #: incremental ingest: AUTO-COARSEN cadence for the fps state (round
    #: 11) — ``coarsen_overlap_mod`` exists as a manual verb, but the fps
    #: state grows linearly in admitted chars, so a long deployment at a
    #: fixed (or "auto"-resolved) mod eventually blows the state-row
    #: budget ``suggest_overlap_config`` sized for. With this set, each
    #: micro-batch checks the fps row count (a parquet FOOTER-metadata
    #: count — row counts are not derivable from a bare file listing, but
    #: the count job reads O(files) footers and zero data pages, and the
    #: file count is bounded by ``ingest_compact_max_files``) and, when
    #: the budget is exceeded, coarsens the mod in-pipeline by the
    #: smallest power-of-two ratio that brings the state back under it
    #: (rows halve per doubling — the nested-sampling arithmetic). The
    #: migration is ``coarsen_overlap_mod``'s meta-first crash ordering
    #: under the same single-writer contract the other in-pipeline
    #: maintenance (``ingest_compact_after_batches`` pattern) relies on;
    #: the batch report records ``rep["overlap_coarsened"]``. The trade
    #: is documented, not silent: a coarser mod raises the reliable-
    #: detection span floor (OVERLAP.md) — the report row carries the new
    #: mod so an operator can see the floor move. ``None`` = manual
    #: coarsening only. Requires ``overlap_ledger`` AND
    #: ``overlap_sample_mod="auto"`` — an explicit config mod would
    #: contradict the re-pinned meta after the first in-pipeline coarsen
    #: and every later batch would refuse loudly; "auto" adopts the
    #: coarsened value, which is the point.
    overlap_coarsen_above_rows: int | None = None
    #: incremental ingest: overlap-drop PROVENANCE (opt-in) —
    #: the adaptive short-doc floor carries a measured 3-6.5% FP rate on
    #: held-out real text (OVERLAP.md §short-docs); at 100 TB that is
    #: millions of docs silently dropped with no way to audit which
    #: admitted doc claimed them. With this on, every doc the CROSS-RUN
    #: overlap leg drops lands one audit row per matching admitted doc —
    #: ``(doc_id, old_id, shared_fps, threshold)`` — in
    #: ``overlap_drops/batch_id=N`` (same per-batch overwrite discipline
    #: as every ledger, so replays rewrite identical rows), the batch
    #: report records ``rep["overlap_dropped_pairs"]``, and the dir shows
    #: up in ``ingest_state_report``. The drop decision itself is then
    #: DERIVED from the written audit (read back, distinct doc ids), so
    #: the audit provably matches what was dropped. Within-batch overlap
    #: losers are not audited here — they collapse through the same
    #: connected-components rule as the MinHash leg and keep a canonical
    #: representative; the cross-run leg is where the FP-rate concern
    #: (and the "which admitted doc claimed it" question) lives.
    #: Requires ``overlap_ledger``.
    overlap_drop_audit: bool = False
    #: incremental ingest: fold the serving index's append/tombstone log
    #: into a codes snapshot (``ann_index.compact_pq_index``) whenever
    #: the number of LIVE committed log entries reaches this many —
    #: ``serve_index_append`` lands one log entry per ingest batch
    #: forever, and every serve-session load lists + unions every live
    #: dir (the analog of ``EadPipelineConfig.journal_compact_after_runs``
    #: for the journal). Requires ``serve_index_append``. Always safe
    #: between batches: the fold never advances past a killed
    #: (attempted-uncommitted) batch, and a replayed batch whose
    #: reserved id was folded no-ops via the idxmap reservation (its
    #: rows are in the snapshot). ``None`` = never compact in-pipeline.
    index_compact_after_batches: int | None = None
    #: incremental ingest: in-pipeline fold cadence for the ingest
    #: ledgers — after each micro-batch, ``compact_ingest_state`` folds
    #: any state dir whose parquet file count exceeds this bound (the
    #: call itself is a cheap listing when nothing exceeds it). Safe
    #: mid-run: state rows carry per-row provenance
    #: (``src_batch_id``), so a batch replayed after its partitions were
    #: folded still decides against exactly the pre-batch state. ``None``
    #: = never compact in-pipeline (run it between runs by hand).
    ingest_compact_max_files: int | None = None
    #: incremental ingest: record per-stage surviving-row counts in each
    #: batch report (``rep["stage_rows"]``) — answers "WHICH gate/ledger
    #: dropped my documents" the way ``curation_report_df`` does for the
    #: batch DAG. Opt-in: each stage's output is checkpointed and counted
    #: (a few extra Spark jobs per stage, never a re-run of a ledger
    #: probe); leave off on the hot path and turn on to debug an
    #: admission-rate regression.
    ingest_stage_counts: bool = False
    #: incremental ingest: run ``pipelines.maintenance.suggest_maintenance``
    #: once at END of run and attach its plan rows to the run report
    #: (``rep["maintenance_plan"]``; ``ingest_run_report_df`` mirrors them
    #: as a summary row) — operators see "what's due" in the same surface
    #: they already read. Opt-in: the planner is
    #: advisory + lease-free by design (listings + a few footer counts),
    #: but it is still a handful of filesystem round-trips per run.
    maintenance_plan_at_end: bool = False
    #: incremental ingest: input DRIFT monitoring (opt-in) — a
    #: reference profile (``functions.profiling.profile_table`` dict,
    #: driver-sized: the corpus the gates/classifier/index were tuned
    #: on). With it set, each micro-batch profiles its parsed input docs
    #: (ONE extra single-pass agg job per batch — the same opt-in cost
    #: posture as ``ingest_stage_counts``) and the batch report records
    #: ``rep["profile_drift"]``: the drifted (column, stat, ref, cur,
    #: delta, detail) rows from ``compare_profiles``. MONITORING, never
    #: a gate — drift does not drop documents; the operator decides
    #: whether a moved distribution means retune, retrain, or nothing
    #: (the same honest division of labor as the index staleness row).
    drift_ref_profile: dict | None = None
    dsir_k: int | None = None  # DSIR target-matched selection (needs target=)
    dsir_dim: int = 8192
    keep_tiers: tuple[int, ...] | None = None  # CCNet tier gate (needs scores=)
    tier_count: int = 3
    substring_dedup_k: int | None = None  # None = no substring-dedup stage
    chunk_max_tokens: int | None = None  # None = no chunking stage
    chunk_overlap: int = 0
    unicode_form: str | None = None  # NFC/NFKC normalization in the clean stage
    sample_fraction: float = 1.0
    pack_budget: int = 2048
    rows_per_shard: int = 100_000
    out_dir: str | None = None
    text_col: str = "text"
    id_col: str = "doc_id"
    extra_cols: tuple[str, ...] = field(default_factory=tuple)

    def __post_init__(self):
        """Refuse contradictory ingest knobs when the config is built, not
        at the first micro-batch."""
        for bad, msg in (
            (self.serve_index_append and not self.semantic_ledger,
             "cfg.serve_index_append needs cfg.semantic_ledger — the "
             "vectors appended to the serving index ARE the ledger's "
             "admitted embeddings (derived at the index's dimension and "
             "family under that ledger's contract)"),
            (self.index_compact_after_batches
             and not self.serve_index_append,
             "cfg.index_compact_after_batches needs "
             "cfg.serve_index_append — it bounds the log the pipeline's "
             "own appends grow; compact an externally-managed index with "
             "ann_index.compact_pq_index directly"),
            (self.overlap_coarsen_above_rows and not self.overlap_ledger,
             "cfg.overlap_coarsen_above_rows needs cfg.overlap_ledger — "
             "it bounds the fps state that ledger grows; coarsen a state "
             "dir by hand with coarsen_overlap_mod"),
            (self.overlap_coarsen_above_rows
             and self.overlap_sample_mod != "auto",
             "cfg.overlap_coarsen_above_rows needs "
             "overlap_sample_mod='auto' — after an in-pipeline coarsen "
             "re-pins the meta, an explicit mod in the config would "
             "contradict it and every later batch would refuse loudly "
             "(the meta contract); 'auto' adopts the coarsened value"),
            (self.overlap_drop_audit and not self.overlap_ledger,
             "cfg.overlap_drop_audit needs cfg.overlap_ledger — the audit "
             "records the cross-run overlap leg's drops"),
            (self.drift_ref_profile is not None and not (
                isinstance(self.drift_ref_profile, dict)
                and "columns" in self.drift_ref_profile),
             "cfg.drift_ref_profile must be a profile_table result dict "
             "({'rows': n, 'columns': {...}}) — pass "
             "functions.profiling.profile_table(reference_df), not a "
             "DataFrame or a path"),
            (self.semantic_ledger and self.semdedup_index_path is None,
             "cfg.semantic_ledger needs cfg.semdedup_index_path — "
             "cross-run semantic dedup requires the SAME trained cells on "
             "every run, so they must come from a persisted index "
             "artifact (ann_index.build_pq_index + save_pq_index), not a "
             "per-batch derivation"),
        ):
            if bad:
                raise ValueError(msg)


@dataclass
class _Verb:
    """What one ingest-state verb holds inside :func:`_state_verb`: the
    state dir ``base``, the held writer ``lease`` and the verb-local
    schema memo behind :meth:`read`."""

    spark: SparkSession
    base: str
    lease: object
    schemas: dict = field(default_factory=dict)

    def read(self, sub: str):
        """``<base>/<sub>``, its merged schema inferred (a Spark job) once
        per verb call; later reads of ``sub`` reuse it. Verb-local, not a
        session memo: a state dir gains a partition every batch, so a
        listing-keyed memo would miss on every call. None when absent."""
        from ..io import read_parquet_state

        path = f"{self.base}/{sub}"
        if sub in self.schemas:
            return self.spark.read.schema(self.schemas[sub]).parquet(path)
        df = read_parquet_state(self.spark, path, mergeSchema="true")
        if df is not None:
            self.schemas[sub] = df.schema
        return df

    def fold(self, sub: str, max_files: int, keep=None) -> None:
        """Replace ``<base>/<sub>`` with one ``batch_id=-1`` archive
        partition of ``max(1, max_files // 8)`` files holding the rows
        ``keep(df)`` returns (all rows when None), through the
        ``statedir.replace_dir`` swap. Rows keep their provenance data
        columns; mergeSchema keeps a column only some partitions carry;
        ``dropDuplicates`` collapses replay debris (a batch replayed after
        a fold rewrites rows the archive already holds)."""
        from .. import statedir

        path = f"{self.base}/{sub}"

        def _write(tmp: str) -> None:
            df = self.spark.read.option("mergeSchema", "true").parquet(
                path
            ).drop("batch_id")
            (df if keep is None else keep(df)).dropDuplicates().coalesce(
                max(1, max_files // 8)
            ).write.mode("overwrite").parquet(tmp + "/batch_id=-1")

        statedir.replace_dir(self.spark, path, _write, lease=self.lease)


@contextmanager
def _state_verb(spark, state_dir: str, owner: str, lease=None):
    """The one way into ingest state: hold the state dir's writer lease
    (``statedir.lease_scope``: ``lease=None`` acquires and releases it, a
    passed-through run lease is renewed, which also fences a superseded
    holder), then heal every ``STATE_DIRS`` dir before any read — a swap
    killed between its renames leaves a dir absent with ``.__old__``
    holding the only copy, and a committed ``.__partswap__`` sidecar
    holds scrubbed children the live dir does not have yet. Yields the
    verb's :class:`_Verb`. A second writer gets ``statedir.LeaseHeld``."""
    from .. import statedir

    base = state_dir.rstrip("/")
    with statedir.lease_scope(spark, base, owner, lease=lease) as held:
        for sub, *_ in STATE_DIRS:
            statedir.heal_dir(spark, f"{base}/{sub}")
        yield _Verb(spark, base, held)


def _clean_docs(cfg: CurationConfig, df: DataFrame):
    """The clean stage (optional Unicode normalization → PII redaction →
    whitespace normalization → drop empties) as ONE shared transform —
    byte-level agreement between the batch DAG and the incremental ingest
    is load-bearing: a drift in either copy changes digests on one path
    only and re-admits duplicates (same rationale as _gate_condition)."""
    tcol = cfg.text_col
    out = df
    if cfg.unicode_form:
        out = out.withColumn(
            tcol, text.normalize_unicode(F.col(tcol), cfg.unicode_form)
        )
    return out.withColumn(
        tcol, F.trim(F.regexp_replace(text.redact_pii(F.col(tcol)), r"\s+", " "))
    ).filter(F.length(tcol) > 0)


def _gate_condition(cfg: CurationConfig, tcol: str):
    """The quality-gate predicate (quality score / Gopher rules / language /
    inlined classifier) as ONE column expression — shared by the batch DAG
    and the incremental ingest so both admit exactly the same documents."""
    cond = text.quality_score(F.col(tcol)) >= cfg.min_quality
    if cfg.use_gopher_gates:
        cond = cond & text.gopher_rules(
            F.col(tcol), **(cfg.gopher_overrides or {})
        )["pass"]
    if cfg.use_repetition_gates:
        cond = cond & text.repetition_rules(
            F.col(tcol), cfg.repetition_overrides
        )["pass"]
    if cfg.allowed_langs:
        cond = cond & text.langid_expr(F.col(tcol)).isin(*cfg.allowed_langs)
    if cfg.clf_weights is not None:
        cond = cond & (
            lm.hashed_linear_logit_expr(
                cfg.clf_weights, cfg.clf_dim, F.col(tcol)
            )
            >= cfg.clf_min_logit
        )
    return cond


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    cfg: CurationConfig,
    bench: DataFrame | None = None,
    embeddings: DataFrame | None = None,
    target: DataFrame | None = None,
    scores: DataFrame | None = None,
    semdedup_centroids: DataFrame | None = None,
) -> dict:
    """Run the curation DAG over ``docs``; returns the run report
    (per-stage row counts + drop counts + output paths) — the C3
    run-report analog for the LLM surface.

    ``embeddings`` (``vec_id`` matching ``id_col``, ``embedding``) feeds the
    ``neardup_method="semantic"`` SemDeDup stage; ``target`` (a small
    trusted corpus with the same id/text columns) feeds the optional DSIR
    importance-resampling stage (``cfg.dsir_k``). ``scores`` (one row per
    doc: ``id_col, log2_ppl`` from ``lm.perplexity_score``) feeds the
    optional CCNet tier gate (``cfg.keep_tiers`` — e.g. ``(0, 1)`` keeps
    head+middle; docs without a score are dropped by that gate). A
    classifier gate can be trained in-engine too: set ``cfg.clf_weights =
    lm.train_hashed_nb_weights(..., hasher="md5").weights_dict()`` and
    fold the model's bias into ``clf_min_logit`` — md5 because the gate
    always hashes with md5 (the inlined expression mode's oracle-replayable
    hasher). ``weights_dict()`` carries the training hasher/dim, so
    weights trained with another hasher, or a mismatched dim, raise inside
    the gate instead of silently scoring garbage."""
    tcol, icol = cfg.text_col, cfg.id_col
    if cfg.neardup_method != "semantic":
        if semdedup_centroids is not None:
            raise ValueError(
                "semdedup centroids were supplied (semdedup_centroids=) "
                f"but neardup_method={cfg.neardup_method!r} — the artifact "
                'would be silently unused; set neardup_method="semantic" '
                "or drop the centroids"
            )
        # cfg.semdedup_index_path is NOT unused on a semantic-ledger
        # config: run_incremental_curation requires it (the ledger's fixed
        # cross-run cells) while ignoring neardup_method, and one config
        # object legitimately serves both APIs (refusing here would make
        # such configs unshareable with the batch API)
        if cfg.semdedup_index_path is not None and not cfg.semantic_ledger:
            raise ValueError(
                "cfg.semdedup_index_path is set but neardup_method="
                f"{cfg.neardup_method!r} and the semantic ledger is off — "
                "the artifact would be silently unused; set "
                'neardup_method="semantic", enable cfg.semantic_ledger, '
                "or drop the path"
            )
    stages: list[dict] = []
    prev_ckpt: DataFrame | None = None
    prev_rows: int | None = None

    def stage(name: str, df: DataFrame) -> DataFrame:
        nonlocal prev_ckpt, prev_rows
        import time as _time

        t0 = _time.perf_counter()
        out = df.localCheckpoint()
        n = out.count()
        stages.append(
            {
                "stage": name,
                "rows": n,
                "dropped": (prev_rows - n) if prev_rows is not None else 0,
                # wall seconds to materialize this stage — the C3
                # run-report's per-stage cost column, so a slow gate is
                # visible in the report instead of needing a profiler
                "sec": round(_time.perf_counter() - t0, 3),
            }
        )
        if prev_ckpt is not None:
            release_local_checkpoint(prev_ckpt)
        prev_ckpt, prev_rows = out, n
        return out

    # re-spread pathologically under-partitioned inputs once, up front: a
    # single-row-group parquet source is unsplittable, and every narrow
    # stage downstream (clean, gates, signature passes) would otherwise
    # run single-core. Cluster-scale splittable sources exceed the guard's
    # threshold and pay nothing (dedup.spread_for_arrow contract).
    cur = stage(
        "input",
        dedup.spread_for_arrow(docs.select(icol, tcol, *cfg.extra_cols)),
    )

    # 1. clean (shared _clean_docs: optional Unicode normalization — mixed
    # compositions hash to different digests and dodge exact dedup — PII
    # redaction, whitespace normalization, drop empties)
    cur = stage("clean", _clean_docs(cfg, cur))

    # 2. gates — pure column predicates (plus the inlined classifier for
    # small models); a single narrow filter pass
    cur = stage("quality_gate", cur.filter(_gate_condition(cfg, tcol)))

    # 2b. CCNet perplexity-tier gate: equal-population buckets over the LM
    # score table; keep the named tiers via one semi-join (the corpus
    # never reshuffles — the tier table is the decision table)
    if cfg.keep_tiers is not None:
        if scores is None:
            raise ValueError("cfg.keep_tiers needs the scores= table "
                             f"({icol}, log2_ppl from lm.perplexity_score)")
        keep_ids = (
            lm.perplexity_tiers(scores, n_tiers=cfg.tier_count)
            .filter(F.col("tier").isin(*cfg.keep_tiers))
            .select(icol)
        )
        cur = stage("ppl_tier_gate", cur.join(keep_ids, icol, "left_semi"))

    # 3. exact dedup (digest shuffle, lowest id survives)
    cur = stage("exact_dedup", dedup.exact_dedup(cur, tcol, icol))

    # 4. near-dup dedup: candidate pairs (MinHash LSH or SimHash banding,
    # per config) → connected components → keep each component's canonical
    # (minimum-id) member. The corpus side exits via one anti-join against
    # the non-canonical decision table.
    if cfg.neardup_method == "minhash":
        # no signature PERSIST: an eager stats-fill (persist + count, whose
        # only purpose was giving AQE accurate sizes) is replaced by
        # minhash_lsh_pairs' count-gated explicit join choice, fed by the
        # PREVIOUS stage's already-materialized row count (small → broadcast
        # hint, 100× → merge — zero extra jobs for the gate). The signature
        # frame is localCheckpointed so the UDF still runs exactly once (a bare
        # BHJ would evaluate it on both self-join sides — measured +0.6 s at
        # sf0.1) and released right after the stage materializes — no per-call
        # pinned InMemoryRelation and no exception-path leak (the release is in
        # a finally).
        dag_sigs = dedup._minhash_sig_frame(cur, tcol, icol).localCheckpoint()
        try:
            pairs = dedup.minhash_lsh_pairs(
                cur, text_col=tcol, id_col=icol,
                threshold=cfg.neardup_threshold,
                sigs=dag_sigs, n_rows=prev_rows,
            ).select("id_a", "id_b")
            cur = stage(
                "neardup_dedup", _drop_cluster_losers(cur, pairs, icol)
            )
        finally:
            release_local_checkpoint(dag_sigs)
        pairs = None  # stage handled inside the checkpoint's scope
    elif cfg.neardup_method == "simhash":
        pairs = dedup.simhash_neardup_pairs(
            cur, text_col=tcol, id_col=icol
        ).select("id_a", "id_b")
    elif cfg.neardup_method == "semantic":
        if embeddings is None:
            raise ValueError(
                'neardup_method="semantic" needs the embeddings= DataFrame '
                "(vec_id matching id_col, embedding array)"
            )
        pairs = None
        from ..operators.similarity import semdedup

        # centroid artifact reuse: repeated curation runs — the
        # incremental-ingest loop especially — should not re-derive cells
        # every run when a trained/persisted set exists. Precedence:
        # explicit DataFrame > persisted index (validated load, coarse
        # centroids only) > per-run derivation; the choice lands in the
        # report so an operator can see which artifact decided the stage.
        if cfg.semdedup_index_path is not None and semdedup_centroids is not None:
            raise ValueError(
                "pass either cfg.semdedup_index_path or semdedup_centroids=, "
                "not both — two centroid sources cannot decide one stage"
            )
        sem_cents = semdedup_centroids
        sem_src = f"derived(first-{cfg.semdedup_cells})"
        if semdedup_centroids is not None:
            sem_src = "prebuilt"
        elif cfg.semdedup_index_path is not None:
            sem_cents = _index_centroids(spark, cfg.semdedup_index_path)
            sem_src = f"index:{cfg.semdedup_index_path}"
        # SemDeDup emits a per-vector verdict directly (its own
        # keep-one-representative rule) — no component pass needed; restrict
        # verdicts to docs still alive so pruning keys off survivors only
        alive = semdedup(
            embeddings.join(
                cur.select(F.col(icol).alias("vec_id")), "vec_id", "left_semi"
            ),
            n_cells=cfg.semdedup_cells,
            threshold=cfg.semdedup_threshold,
            impl="arrow",
            centroids=sem_cents,
        )
        losers_sem = alive.filter(F.col("removed")).select(
            F.col("id").alias(icol)
        )
        cur = stage("neardup_dedup", cur.join(losers_sem, icol, "left_anti"))
        stages[-1]["note"] = f"centroids={sem_src}"
    elif cfg.neardup_method == "none":
        pairs = None
    else:
        raise ValueError(
            f"neardup_method must be minhash|simhash|semantic|none, got "
            f"{cfg.neardup_method!r}"
        )
    if pairs is not None:
        cur = stage("neardup_dedup", _drop_cluster_losers(cur, pairs, icol))

    # 5. benchmark decontamination (eval-leakage gate): broadcast bench
    # shingle index, anti-join the contaminated train ids out
    if bench is not None:
        dirty = (
            dedup.contamination_pairs(
                cur, bench, text_col=tcol, id_col=icol, impl="arrow",
            )
            .select(F.col("train_id").alias(icol))
            .distinct()
        )
        # gate the broadcast on the PREVIOUS stage's materialized count:
        # dirty ids ⊆ surviving train ids, so prev_rows is a sound upper
        # bound on the built relation — a separate localCheckpoint +
        # count of the dirty ids (the dirty-ids compute
        # materialized inside them, ~1.4 s at sf0.1) fold into the stage
        # job itself: below the gate contamination_pairs executes once
        # inside the broadcast build (the hint, not AQE, removes the
        # corpus-side Exchange — AQE converts SMJ→BHJ only after both
        # shuffles ran); above it (adversarial everything-contaminated
        # regimes) the plain shuffled anti-join stands
        if _fits_broadcast(prev_rows):
            dirty = F.broadcast(dirty)
        cur = stage("decontaminate", cur.join(dirty, icol, "left_anti"))

    # 5b. exact substring dedup (Lee et al. ExactSubstr): duplicated
    # k-token spans removed everywhere but their first corpus occurrence;
    # the cleaned text joins back on the id (extra cols ride along)
    if cfg.substring_dedup_k is not None:
        cleaned_subs = dedup.dedup_substrings(
            cur.select(icol, tcol), text_col=tcol, id_col=icol,
            k=cfg.substring_dedup_k,
        ).select(icol, F.col("clean_text"))
        cur = stage(
            "substring_dedup",
            cur.join(cleaned_subs, icol)
            .withColumn(tcol, F.col("clean_text"))
            .drop("clean_text")
            .filter(F.length(tcol) > 0),
        )

    # 5c. DSIR target-matched selection: keep the dsir_k documents that
    # look most like the trusted target corpus (importance resampling,
    # deterministic Gumbel-top-k) — runs after dedup/decontamination so
    # duplicates can't spend the selection budget
    if cfg.dsir_k is not None:
        if target is None:
            raise ValueError("cfg.dsir_k needs the target= trusted corpus")
        cur = stage(
            "dsir_select",
            sampling.dsir_resample(
                cur, target, k=cfg.dsir_k, dim=cfg.dsir_dim,
                text_col=tcol, id_col=icol,
            ).drop("log_w", "gumbel_key"),
        )

    # 6. deterministic subsampling (retry-stable hash buckets)
    if cfg.sample_fraction < 1.0:
        cur = stage(
            "sample", sampling.deterministic_sample(cur, icol, cfg.sample_fraction)
        )

    # 6b. context-window chunking: long documents split into
    # max_tokens-sized chunks with overlap; chunk ids stay traceable to the
    # source doc (doc_id·10⁶ + chunk_no — chunk counts are bounded far
    # below 10⁶ by construction since doc length ≪ 10⁶·stride)
    if cfg.chunk_max_tokens is not None:
        chunks = sampling.chunk_documents(
            cur.select(icol, tcol),
            max_tokens=cfg.chunk_max_tokens,
            overlap=cfg.chunk_overlap,
            text_col=tcol,
            id_col=icol,
        )
        if cfg.extra_cols:  # doc-level columns replicate onto every chunk
            chunks = chunks.join(cur.select(icol, *cfg.extra_cols), icol)
        cur = stage(
            "chunk",
            chunks.select(
                (F.col(icol) * 1_000_000 + F.col("chunk_no")).alias(icol),
                F.col("chunk_text").alias(tcol),
                *cfg.extra_cols,
            ),
        )

    # 7. sequence packing on BPE-ish token counts (per-shard window pass)
    packed = (
        cur.withColumn("n_tokens", text.bpe_token_count(F.col(tcol)))
        .withColumn("shard", sampling.hash_bucket(icol) % _PACK_SHARDS)
    )
    packed = sampling.pack_greedy(
        packed, "n_tokens", cfg.pack_budget, part_col="shard", order_col=icol
    )
    cur = stage("pack", packed)

    # 8. ordered shard export (the one globally ordered shuffle)
    n_shards = None
    if cfg.out_dir:
        n_shards = layout.write_sharded(
            cur, cfg.out_dir, icol, rows_per_shard=cfg.rows_per_shard
        )

    # tokens surviving into the packed output — one cheap agg over the
    # final stage's cached blocks (n_tokens already computed for packing);
    # the "tokens out" headline a training-data run is actually judged by
    out_tokens = cur.agg(F.sum("n_tokens")).collect()[0][0] or 0

    report = {
        "stages": stages,
        "input_rows": stages[0]["rows"],
        "output_rows": stages[-1]["rows"],
        "output_tokens": int(out_tokens),
        "out_dir": cfg.out_dir,
        "n_shards": n_shards,
    }
    if prev_ckpt is not None:
        release_local_checkpoint(prev_ckpt)
    return report


def curation_report_df(spark: SparkSession, report: dict) -> DataFrame:
    """C3 "diagnostics as columns" for the flagship pipeline: the
    ``run_curation`` report as a small queryable DataFrame — one row per
    stage with rows in/out, docs removed, removal percentage, and wall
    seconds. At 100 TB this is the table an operator actually reads (and
    joins/charts/alerts on): which gate removed what, at what cost —
    without re-running anything (the report dict is already materialized;
    this is a driver-side reshape of ~10 rows)."""
    rows = []
    for i, s in enumerate(report["stages"]):
        rows_in = s["rows"] + s["dropped"]
        rows.append(
            (
                i,
                s["stage"],
                rows_in,
                s["rows"],
                s["dropped"],
                round(100.0 * s["dropped"] / rows_in, 2) if rows_in else 0.0,
                float(s.get("sec", 0.0)),
                # stage-specific provenance (e.g. which centroid artifact
                # decided the semantic stage) — empty for most stages
                s.get("note", ""),
            )
        )
    return spark.createDataFrame(
        rows,
        "stage_no int, stage string, rows_in long, rows_out long, "
        "dropped long, drop_pct double, sec double, note string",
    )


def ingest_run_report_df(spark: SparkSession, run_report: dict) -> DataFrame:
    """C3 "diagnostics as columns" for the incremental ingest — the one
    report dict that still lacked a DataFrame mirror
    (``curation_report_df`` covers the batch DAG, ``ingest_state_report``
    the state artifacts, ``pq_index_report`` the index,
    ``journal_report`` the journal; this covers the RUN):
    ``run_incremental_curation``'s return value as one row per
    micro-batch. Scalar counts become columns (nulls where a batch
    didn't carry the field — e.g. ``retraction_excluded`` only rides
    replayed batches, ``index_appended`` only with
    ``serve_index_append``); the variable-shape extras become compact
    summary strings: ``drift`` (the drifted column/stat pairs from the
    opt-in input monitor, empty = monitor ran clean, null = monitor
    off) and ``maintenance`` (which in-pipeline folds/coarsens/compacts
    fired). With ``cfg.maintenance_plan_at_end`` the run report carries
    an end-of-run ``suggest_maintenance`` plan — mirrored here as one
    SUMMARY row (null ``batch_id``) whose ``maintenance`` column lists
    what's due (``plan: clean`` when nothing is). Driver-side reshape
    of an already-materialized dict — costs nothing."""
    rows = []
    for b in run_report.get("batches", []):
        drift = b.get("profile_drift")
        drift_s = (
            None if drift is None
            else "; ".join(f"{d['column']}.{d['stat']}" for d in drift)
        )
        maint = []
        if b.get("state_compacted"):
            maint.append(f"state_compacted={sorted(b['state_compacted'])}")
        if b.get("overlap_coarsened"):
            maint.append(f"overlap_coarsened={b['overlap_coarsened']}")
        if b.get("index_compacted"):
            maint.append("index_compacted")
        rows.append((
            int(b["batch_id"]),
            int(b.get("corrupt_lines", 0)),
            int(b["input_rows"]),
            int(b["admitted"]),
            int(b["dropped"]),
            (int(b["retraction_excluded"])
             if "retraction_excluded" in b else None),
            (int(b["index_appended"])
             if "index_appended" in b else None),
            drift_s,
            "; ".join(maint),
        ))
    plan = run_report.get("maintenance_plan")
    if plan is not None:
        due = "; ".join(
            f"{p['urgency']}: {p['surface']}.{p['verb']}" for p in plan
        )
        rows.append((
            None, None, None, None, None, None, None, None,
            f"plan: {due}" if due else "plan: clean",
        ))
    return spark.createDataFrame(
        rows,
        "batch_id long, corrupt_lines long, input_rows long, "
        "admitted long, dropped long, retraction_excluded long, "
        "index_appended long, drift string, maintenance string",
    )


def run_incremental_curation(
    spark: SparkSession,
    in_dir: str,
    state_dir: str,
    cfg: CurationConfig,
    schema: str = "doc_id long, text string",
) -> dict:
    """Continuous-ingest curation — the T1/T2 incremental outer loop
    (reference: ``bin/batch.sh:1-39``'s cron driver) applied to the LLM
    corpus surface: JSONL shards LAND in ``in_dir`` over time; each call
    drains every not-yet-processed shard (Structured Streaming file source,
    ``Trigger.AvailableNow`` + checkpoint → exactly-once file discovery
    across restarts), curates the micro-batch with the SAME gate predicate
    as the batch DAG, and exact-dedups it against everything admitted in
    ANY earlier batch or run via a persistent digest ledger.

    State layout under ``state_dir``:
      ``checkpoint/`` — stream source/offset checkpoint (the `.last_run`
      analog, but exactly-once);
      ``ledger/``     — parquet of md5 digests of every admitted text
      (16-byte rows — at 100 TB the ledger is ~thousandths of corpus
      size; the anti-join shuffles digests, never text);
      ``corpus/``     — curated documents, appended per batch.

    With ``cfg.neardup_ledger`` on, the same cross-batch/run guarantee
    extends to NEAR-duplicates: each admitted document's MinHash signature
    and its banded bucket keys persist (``sigs/`` + ``bands/``), and every
    new batch's docs are checked by the standard LSH chain — band-bucket
    equi-join against the ledger for candidates, then signature-agreement
    estimated Jaccard ≥ ``cfg.neardup_threshold`` to confirm. Within-batch
    near-dups collapse through the same LSH-pairs → connected-components
    canonical rule as the batch DAG (component minimum id survives). Storage is ~8·num_hashes bytes + bands×16 bytes per admitted
    doc — thousandths of corpus size, and the per-batch work is
    output-sensitive (bucket collisions), never a scan of old text.

    With ``cfg.semantic_ledger`` on, the guarantee extends to SEMANTIC
    near-duplicates (SemDeDup's cosine rule): admitted documents'
    in-engine embeddings persist per coarse cell (``semvecs/``), and each
    new batch — after the batch DAG's own within-batch SemDeDup — drops
    docs whose embedding is ≥ ``cfg.semdedup_threshold`` cosine to ANY
    previously admitted vector in the same cell. The cells are loaded
    once per run from the persisted index at
    ``cfg.semdedup_index_path`` (required — per-batch-derived cells
    would drift between runs and silently miss cross-run pairs); the
    comparison is an equi-join on ``cell_id``, so per-batch work is
    bounded by cell population (√n cells at the index's auto sizing),
    never a scan of all admitted vectors.

    With ``cfg.overlap_ledger`` on, it extends to SUBSTRING OVERLAP —
    the partial-copy family both of the above miss (a lifted paragraph in
    otherwise-new text has low whole-doc Jaccard and often low cosine):
    admitted docs persist mod-sampled winnowed fingerprints (``fps/``),
    and a new doc drops when it shares ``overlap_min_shared`` sampled
    fingerprints with any single admitted doc (boilerplate-capped; see
    the config docstring for the span-length arithmetic).

    Takedowns: :func:`retract_documents` removes an admitted
    doc-id set from every state surface above plus the corpus and the
    pipeline-managed serving index; its ``retracted/`` record makes each
    batch here immune to the replay-resurrection hazard (docs retracted
    out of batch N stay excluded when batch N redelivers).

    Crash safety / exactly-once effect: ``foreachBatch`` is at-least-once
    (a batch killed mid-write REPLAYS on restart with the same batch id),
    so every state write goes to its batch's own hive partition dir
    (``.../batch_id=N``, mode overwrite) and every state READ excludes the
    current batch id — a replay recomputes the same admission decision
    against exactly the pre-batch state and overwrites its own partial
    output, never appending twice and never losing a batch to a
    half-recorded ledger. Corpus/ledger readers therefore see a
    ``batch_id`` provenance column. (``state_dir`` binds the stream
    checkpoint and the ledgers together: batch ids are unique per
    checkpoint, so never point two checkpoints at one state dir.)

    Corrupt JSONL lines quarantine per micro-batch (PERMISSIVE corrupt
    column) instead of killing the stream. Returns a run report:
    per-batch admitted/dropped counts plus totals.
    """
    from pyspark.sql import types as T

    sch = T.StructType.fromDDL(schema)
    ckpt_dir = os.path.join(state_dir, "checkpoint")
    batches: list[dict] = []

    # ENFORCED single-writer contract: the run holds the state dir's
    # writer lease for its whole duration — a second concurrent run (or a
    # retraction / manual compaction racing this one) refuses loudly at
    # acquisition instead of silently corrupting shared state. RUN-scoped,
    # not batch-scoped, because two runs with separate checkpoints assign
    # overlapping batch ids: each batch renews the lease (which also
    # fences a run that lost a stale-lease takeover mid-stream).
    from .. import statedir

    run_lease = statedir.acquire_lease(
        spark, state_dir, owner="run_incremental_curation"
    )
    # semantic ledger: the coarse cells are loaded ONCE per run from the
    # persisted index (validated), not per micro-batch — and never derived
    # from batch data, which would drift the cells between runs and
    # silently miss cross-run pairs; released with the lease
    sem_centroids = None

    def batch_fn(lines: DataFrame, batch_id: int) -> None:
        rep = _ingest_batch(spark, lines, batch_id, cfg, state_dir, sch,
                            sem_centroids=sem_centroids, lease=run_lease)
        if cfg.ingest_compact_max_files is not None:
            # in-pipeline ledger maintenance: safe between
            # batches because state rows carry per-row provenance — a
            # replay after the fold still excludes exactly its own rows
            done = compact_ingest_state(
                spark, state_dir, max_files=cfg.ingest_compact_max_files,
                lease=run_lease,
            )
            if done:
                rep["state_compacted"] = done
        if cfg.overlap_coarsen_above_rows is not None:
            # in-pipeline fps-budget maintenance: runs between
            # batches like the fold above, under the same single-writer
            # contract — see the config docstring for the budget check's
            # cost (footer count, zero data pages)
            coarsened = _maybe_coarsen_overlap(spark, state_dir, cfg,
                                               lease=run_lease)
            if coarsened:
                rep["overlap_coarsened"] = coarsened
        batches.append(rep)

    try:
        sem_centroids = _load_semantic_centroids(spark, cfg)
        (
            spark.readStream.format("text")
            .load(in_dir)
            .writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        run_lease.release()
        if sem_centroids is not None:
            release_local_checkpoint(sem_centroids)
    out = {
        "batches": batches,
        "total_admitted": sum(b["admitted"] for b in batches),
        "corpus_dir": os.path.join(state_dir, "corpus"),
        "ledger_dir": os.path.join(state_dir, "ledger"),
    }
    if cfg.maintenance_plan_at_end:
        # after the lease released — the planner is advisory and
        # lease-free by design (listings + footer counts only)
        from .maintenance import suggest_maintenance

        out["maintenance_plan"] = [
            row.asDict()
            for row in suggest_maintenance(spark, state_dir, cfg).collect()
        ]
    return out


def _index_centroids(spark: SparkSession, path: str) -> DataFrame:
    """The coarse centroids of the persisted index at ``path``
    (``load_pq_index`` — full artifact cross-validation): the fixed cells
    semantic dedup assigns into. A FLAT index has none and is refused."""
    from ..operators.ann_index import load_pq_index

    idx = load_pq_index(spark, path)
    if idx.centroids is None:
        raise ValueError(
            f"semdedup_index_path={path!r} is a FLAT PQ index (no coarse "
            "centroids) — semantic dedup needs an IVF index "
            "(build_pq_index(n_cells=...))"
        )
    return idx.centroids


def _load_semantic_centroids(spark: SparkSession, cfg: CurationConfig):
    """The semantic ledger's fixed cells (:func:`_index_centroids`),
    checkpointed so each micro-batch broadcasts a materialized small table
    instead of re-reading parquet. None when the semantic ledger is off."""
    if not cfg.semantic_ledger:
        return None
    return _index_centroids(spark, cfg.semdedup_index_path).localCheckpoint()


def _read_state(spark: SparkSession, path: str, exclude_batch: int):
    """Read a state dir (hive-partitioned by batch_id), EXCLUDING the
    current batch's own rows so a replayed batch decides against exactly
    the pre-batch state. Exclusion keys on the ``src_batch_id`` DATA
    column the writers stamp, not the partition dir: after
    ``compact_ingest_state`` folded a batch's partition into the
    ``batch_id=-1`` archive, partition-based exclusion can no longer see
    whose rows are whose — a replayed batch would find its OWN digests in
    the archive, admit zero documents, and overwrite its corpus partition
    EMPTY (silent data loss, strictly worse than the double-admit the old
    stop-the-world contract warned about). With the data column the
    archive keeps per-row provenance and replay-after-compaction decides
    identically to replay-before. State dirs without the column
    fall back to partition exclusion — correct until their first
    compaction, after which the writers' own stamps have taken over.
    "No usable state yet" → None via the shared FS-portable classifier
    (``io.read_parquet_state`` — the publish journal reads through the
    same one); anything else re-raises (mapping real errors to None would
    re-admit duplicates with no error anywhere)."""
    from ..io import read_parquet_state

    # mergeSchema: in a half-upgraded dir only SOME partitions carry
    # src_batch_id — without the merge, whether the column surfaces
    # depends on which footer Spark sampled for schema inference
    df = read_parquet_state(spark, path, mergeSchema="true")
    if df is None:
        return None
    return df.filter(_batch_of(df) != exclude_batch).drop(
        "batch_id", "src_batch_id"
    )


def _batch_of(df: DataFrame, col: str = "src_batch_id"):
    """The batch each state row belongs to: its provenance data column
    ``col`` where present, else the hive partition value. Coalesce, not
    the bare column: in a HALF-upgraded dir (old partitions without the
    column alongside new ones) the old files read as NULL, and
    ``NULL != N`` is NULL — a bare filter would silently DROP every
    pre-upgrade row. Falling back to the partition id per row keeps
    exactly the old semantics for exactly the old rows."""
    if col not in df.columns:
        return F.col("batch_id")
    return F.coalesce(F.col(col), F.col("batch_id"))


def _resolve_overlap_mod(spark: SparkSession, fps_dir: str, cfg) -> int:
    """Resolve the overlap ledger's sampling mod for this state dir and
    pin it in the ``fps_meta`` sidecar (sibling of ``fps/`` — NOT inside
    it, where ``compact_ingest_state``'s dir swap would delete it). The
    mod (and k/w) must be identical at write and probe time across every
    run of a state dir: probing at a different mod than the state was
    written with silently zeroes the match rate, and a different k/w
    makes the stored hashes meaningless. So the FIRST overlap batch
    resolves the value (``"auto"`` → ``text.suggest_overlap_config()``;
    an int → itself) and persists ``(k, w, sample_mod)``; every later
    batch adopts the persisted mod — including ``"auto"`` runs after a
    formula change — and an EXPLICIT config contradicting the meta is
    refused loudly (the config-carrying-artifact contract: NBModel's
    hasher/dim, PQ codebooks' cent_sig). State dirs from before the meta
    (fps rows, no meta yet) adopt the current config and write the meta —
    those dirs were written at the then-only default, and refusing them
    would brick every existing deployment on upgrade."""
    from ..functions.text import suggest_overlap_config
    from ..io import read_parquet_state, tiny_df

    meta_dir = fps_dir.rstrip("/") + "_meta"
    meta = read_parquet_state(spark, meta_dir)
    row = meta.collect()[0] if meta is not None else None
    if row is not None:
        if (int(row.k), int(row.w)) != (cfg.overlap_k, _OVERLAP_W):
            raise ValueError(
                f"overlap ledger state at {fps_dir} was written with "
                f"k={int(row.k)}, w={int(row.w)} but the config says "
                f"k={cfg.overlap_k}, w={_OVERLAP_W} — the stored "
                "fingerprints are not comparable; use a fresh state dir"
            )
        mod = int(row.sample_mod)
        if (cfg.overlap_sample_mod != "auto"
                and int(cfg.overlap_sample_mod) != mod):
            raise ValueError(
                f"overlap ledger state at {fps_dir} was sampled at "
                f"mod={mod} but the config says "
                f"mod={cfg.overlap_sample_mod} — probing at a different "
                "mod than the state was written with silently misses "
                "every cross-run pair; keep the persisted value (or "
                "'auto', which adopts it) or use a fresh state dir"
            )
        return mod
    legacy = read_parquet_state(spark, fps_dir)
    if cfg.overlap_sample_mod == "auto":
        if legacy is not None:
            # pre-meta state (fps rows, no meta): pin the DEFAULT, 16,
            # not today's suggestion (which moves with min_shared and
            # any future formula change; e.g. min_shared=8 suggests
            # mod 8, and probing a mod-16 dir at 8 silently halves the
            # cross-run match rate) — subject to the sanity check below
            mod = 16
        else:
            mod = suggest_overlap_config(
                k=cfg.overlap_k, w=_OVERLAP_W,
                min_shared=cfg.overlap_min_shared,
            )["sample_mod"]
    else:
        mod = int(cfg.overlap_sample_mod)
    if legacy is not None and "fp" in legacy.columns:
        # before adopting ANY mod for a meta-less dir
        # — the legacy default 16 above, or an explicit config value —
        # check the claim against the rows themselves: every stored fp
        # must satisfy fp % mod == 0 (one cheap aggregate over the
        # fps-sized state). overlap_sample_mod was configurable before
        # the meta existed, so "the then-only default" is a heuristic a
        # legacy dir written at an explicit FINER mod would contradict —
        # and pinning the wrong mod silently zeroes the cross-run match
        # rate, the exact failure fps_meta exists to prevent. Limits: a
        # legacy dir written at a COARSER multiple (e.g. 32 when pinning
        # 16) passes this check — its rows are a nested subset, so
        # matching degrades to the coarser density rather than zero; the
        # check catches the silent-zero direction, which is the
        # dangerous one.
        bad = legacy.filter(F.col("fp") % mod != 0).count()
        if bad:
            raise ValueError(
                f"overlap ledger state at {fps_dir} has no fps_meta and "
                f"{bad} stored fingerprint rows contradict the mod "
                f"({mod}) about to be pinned for it (fp % {mod} != 0) — "
                "the dir was written at a finer or non-nested mod; "
                "probing it at this mod would silently miss cross-run "
                "pairs. Pass the mod the state was actually written "
                "with, or use a fresh state dir"
            )
    # one tiny row, overwrite-idempotent (a replayed first batch rewrites
    # identical content); written BEFORE the batch's fps so a crash after
    # any fps landed can never leave sampled state without its meta.
    # tiny_df, not createDataFrame().coalesce(1) — the coalesce made one
    # task drain 32 python partitions serially (io.tiny_df docstring)
    tiny_df(
        spark,
        [(cfg.overlap_k, _OVERLAP_W, mod)],
        "k int, w int, sample_mod int",
    ).write.mode("overwrite").parquet(meta_dir)
    return mod


def _ingest_batch(
    spark: SparkSession,
    lines: DataFrame,
    batch_id: int,
    cfg: CurationConfig,
    state_dir: str,
    sch,
    sem_centroids: DataFrame | None = None,
    lease=None,
) -> dict:
    """One micro-batch of the incremental ingest (module-level so replay
    semantics are directly testable: calling it twice with the same
    ``batch_id`` must be a no-op the second time modulo overwrites).
    ``sem_centroids`` is the per-run preloaded cell table for the semantic
    ledger; the direct-call (replay-test) path loads it on demand.
    ``lease``: the run-scoped writer lease (renewed per batch); the
    direct-call path acquires one transiently (``_state_verb``). Cells
    this call loaded itself are released before it returns."""
    from pyspark.sql import types as T

    from ..sources.jsonl import CORRUPT_COL

    own_cells = cfg.semantic_ledger and sem_centroids is None
    full = T.StructType(
        list(sch.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    # the frame heals before any state read: an unhealed _read_state
    # would see a half-swapped dir as "no state" and re-admit everything
    # the ledger ever recorded
    with _state_verb(spark, state_dir, f"ingest_batch={batch_id}",
                     lease=lease):
        # re-spread the micro-batch BEFORE the persist: the file source
        # bin-packs a batch's JSONL shards into a handful of partitions (8 for
        # a 100k-doc batch here — measured as the dominant straggler stage: the
        # whole admission pipeline's clean/gate/digest work ran on 8 of 32
        # cores). spread_for_arrow's guards keep tiny micro-batches unshuffled
        # (size floor) and make this a no-op at cluster scale (splittable
        # sources already exceed cores/4 partitions). Measured (interleaved
        # stash A/B, 100k-doc exact-only batches, identical admitted sets):
        # warm 14.2-14.6 → 11.3-11.7 s, cold 20.0-20.5 → 16.0-17.1 s (~20%).
        parsed = dedup.spread_for_arrow(lines).filter(
            F.length(F.trim("value")) > 0
        ).withColumn(
            "j",
            F.from_json(
                "value", full,
                {"mode": "PERMISSIVE",
                 "columnNameOfCorruptRecord": CORRUPT_COL},
            ),
        ).persist()  # counted + feeds the admission pipeline: parse
        # once (unpersisted in the finally below — a mid-batch failure must
        # not pin the block until session GC)
        try:
            if own_cells:
                sem_centroids = _load_semantic_centroids(spark, cfg)
            return _ingest_batch_body(
                _Batch(spark, cfg, batch_id, state_dir, sem_centroids),
                parsed, sch,
            )
        finally:
            parsed.unpersist()
            if own_cells and sem_centroids is not None:
                release_local_checkpoint(sem_centroids)


@dataclass
class _Batch:
    """What the dedup legs of one ingest micro-batch share. Each leg
    (``_exact_leg``, ``_neardup_leg``, ``_overlap_leg``, ``_semantic_leg``)
    takes the batch's surviving docs, checkpoints them once together with
    the per-doc column it derives, and returns the survivors of its own
    within-batch step and (lazy) cross-run probe, carrying forward the
    columns its state writes need; it queues those writes in ``writes``
    and the frames it cached in ``held``; ``_ingest_batch_body`` runs the
    writes and releases the frames after the admitted set materializes."""

    spark: SparkSession
    cfg: CurationConfig
    batch_id: int
    base: str  # the state dir
    sem_centroids: DataFrame | None
    n_in: int = 0  # post-guard input docs, set once counted
    held: list = field(default_factory=list)
    writes: list = field(default_factory=list)  # (surface, fn(admitted))
    report: dict = field(default_factory=dict)  # legs' batch-report keys

    def path(self, sub: str) -> str:
        return os.path.join(self.base, sub)

    def part(self, sub: str) -> str:
        """This batch's own partition dir of state surface ``sub``."""
        return os.path.join(self.path(sub), f"batch_id={self.batch_id}")

    def state(self, sub: str):
        """Surface ``sub`` as of before this batch (``_read_state``)."""
        return _read_state(self.spark, self.path(sub), self.batch_id)

    def hold(self, df: DataFrame) -> DataFrame:
        """Register a cached frame for release once the batch is written."""
        self.held.append(df)
        return df

    def write(self, surface: str, rows) -> None:
        """Queue ``rows(admitted)`` for this batch's partition of
        ``surface``, stamped with the producing batch as the
        ``src_batch_id`` data column: the partition dir alone
        loses provenance once compact_ingest_state folds it into the
        batch_id=-1 archive, and _read_state's own-batch exclusion — the
        replay-safety mechanism — keys on this column."""
        src = F.lit(int(self.batch_id)).cast("long").alias("src_batch_id")
        self.writes.append((surface, lambda admitted: rows(
            admitted, src
        ).write.mode("overwrite").parquet(self.part(surface))))


def _ingest_batch_body(ctx: _Batch, parsed, sch) -> dict:
    from ..io import read_parquet_state
    from ..sources.jsonl import CORRUPT_COL

    spark, cfg, batch_id = ctx.spark, ctx.cfg, ctx.batch_id
    tcol, icol = cfg.text_col, cfg.id_col
    fields = parsed.select(
        F.col("j").getField(CORRUPT_COL).isNotNull().alias("_bad"),
        *[F.col("j").getField(f.name).alias(f.name) for f in sch.fields],
    )
    is_doc = ~F.col("_bad") & (F.length(F.coalesce(tcol, F.lit(""))) > 0)
    # corrupt lines and input docs: ONE aggregate over the parsed persist
    n_corrupt, n_docs = fields.agg(
        F.count_if("_bad"), F.count_if(is_doc)
    ).first()
    docs = fields.filter(is_doc).drop("_bad")
    # retraction replay guard (see retract_documents): an
    # at-least-once REPLAY of this batch recomputes admission against the
    # pre-batch state and would re-land docs a takedown removed, silently
    # undoing the retraction. Retraction rows carry the batch that
    # admitted each doc; excluding docs retracted out of THIS batch id
    # makes the replay re-exclude exactly them — while the same text
    # re-submitted in a LATER batch (different id) is admitted fresh, the
    # documented re-submission semantics. The read is takedown-sized and
    # returns None on the (overwhelmingly common) no-retractions path.
    # The guard runs BEFORE n_in is counted and its exclusions are
    # reported separately (counting input first would leave
    # rep["input"] including docs no stage count accounted for, so
    # input vs stage_rows/admitted would never reconcile on exactly the
    # replayed batches the guard exists for).
    pre_guard = None
    retr = read_parquet_state(spark, ctx.path("retracted"), mergeSchema="true")
    if retr is not None:
        guard = (
            retr.filter(F.col("admitted_batch_id") == batch_id)
            .select(F.col("doc_id").alias(icol)).distinct()
        )
        # isEmpty (limit-1 over the takedown-sized frame) gates the
        # post-guard recount — the common case (a state dir with
        # retraction history but none for THIS batch id) pays one
        # cheap probe job, not a second full count, per micro-batch
        if not guard.isEmpty():
            pre_guard = n_docs
            docs = docs.join(F.broadcast(guard), icol, "left_anti")
            n_docs = docs.count()
    n_in = ctx.n_in = n_docs

    # opt-in input drift monitoring: profile the PARSED batch
    # (pre-clean, pre-gate — the question is "did my INPUT move", and the
    # gates downstream are exactly what a moved input mis-tunes) against
    # the reference profile, one single-pass agg job. Monitoring only —
    # nothing is dropped; the drifted rows ride the batch report.
    profile_drift = None
    if cfg.drift_ref_profile is not None and n_in > 0:
        from ..functions.profiling import compare_profile_rows, profile_table

        # the id column is excluded on BOTH sides: it is a key, its
        # values advance by construction every batch (min/max/mean of a
        # sequence-assigned id always "drift"), and flagging it would
        # bury the payload columns the monitor exists for
        ref_prof = {
            "rows": cfg.drift_ref_profile.get("rows", 0),
            "columns": {
                k: v
                for k, v in cfg.drift_ref_profile["columns"].items()
                if k != icol
            },
        }
        # compare_profile_rows, not compare_profiles: the comparator is
        # pure driver-side dict arithmetic, and routing its ~dozens of
        # tuples through createDataFrame → filter → collect would add a
        # scheduler round-trip per micro-batch beyond the documented
        # one-extra-agg cost posture
        profile_drift = [
            {"column": col, "stat": stat, "ref": rv, "cur": cv,
             "delta": delta, "detail": detail}
            for col, stat, rv, cv, delta, drifted, detail
            in compare_profile_rows(
                ref_prof, profile_table(docs.drop(icol))
            )
            if drifted
        ]

    stage_rows: dict[str, int] = {}

    def _st(name: str, df):
        # opt-in per-stage survivor counts (cfg.ingest_stage_counts): the
        # stage's output is checkpointed and counted off its blocks, so a
        # count never re-runs a leg's ledger probe; the default is a no-op
        # passthrough
        if cfg.ingest_stage_counts:
            df = ctx.hold(df.localCheckpoint())
            stage_rows[name] = df.count()
        return df

    # SAME clean stage as the batch DAG (shared _clean_docs) — gate/
    # digest/signature decisions must match run_curation on identical
    # documents, and the corpus must never admit unredacted PII through
    # the incremental path
    docs = _st("gate", _clean_docs(cfg, docs).filter(
        _gate_condition(cfg, tcol)
    ))
    legs = [("exact_dedup", _exact_leg)] + [
        (name, leg) for on, name, leg in (
            (cfg.neardup_ledger, "neardup_dedup", _neardup_leg),
            (cfg.overlap_ledger, "overlap_dedup", _overlap_leg),
            (cfg.semantic_ledger, "semantic_dedup", _semantic_leg),
        ) if on
    ]
    idx_rep = None
    try:
        # each leg checkpoints its input (plus the column it derives) and
        # returns its cross-run probe lazily: the next leg's checkpoint, or
        # this one, runs that probe exactly once
        for name, leg in legs:
            docs = _st(name, leg(ctx, docs))
        admitted = ctx.hold(docs.localCheckpoint())  # read once, written 2-6x
        n_admit = _write_admitted(ctx, admitted, sch.fieldNames())
        if cfg.serve_index_append:
            # after the ledgers commit: the admitted set is final for
            # this batch; a crash before the append replays the whole
            # batch (identical admitted set → identical append)
            idx_rep = _append_serve_index(
                spark, admitted, cfg, icol, batch_id, ctx.path("idxmap")
            )
    finally:
        # the admitted checkpoint is the last reader of every frame the
        # legs cached — free them now instead of pinning one set per
        # batch until garbage collection
        for df in ctx.held:
            if df.is_cached:
                df.unpersist()
            else:
                release_local_checkpoint(df)
    rep = {
        "batch_id": batch_id,
        "corrupt_lines": n_corrupt,
        "input_rows": n_in,
        "admitted": n_admit,
        "dropped": n_in - n_admit,
    }
    if pre_guard is not None:
        # the replay guard ran: input_rows is already post-guard, and the
        # guard's exclusions are reported so input vs stage_rows/admitted
        # arithmetic reconciles
        rep["retraction_excluded"] = pre_guard - n_in
    if stage_rows:
        rep["stage_rows"] = stage_rows
    if profile_drift is not None:
        rep["profile_drift"] = profile_drift
    rep.update(ctx.report)
    if idx_rep is not None:
        rep["index_batch_id"] = idx_rep["batch_id"]
        rep["index_appended"] = idx_rep["rows"]
        comp = _maybe_compact_serve_index(spark, cfg)
        if comp is not None:
            rep["index_compacted"] = comp
    return rep


def _exact_leg(ctx: _Batch, docs: DataFrame) -> DataFrame:
    """Within-batch exact dedup, then cross-batch/run dedup against the
    digest ledger (anti-join on digests — text never reshuffles)."""
    tcol, icol = ctx.cfg.text_col, ctx.cfg.id_col
    # clean → gate → digest → window-dedup run ONCE, into this checkpoint
    # (the window's md5 key is the ledger's digest, hashed once): the
    # ledger flip below reads the batch twice (its stream side and its
    # digest broadcast), and each read would otherwise re-run the whole
    # chain from the parsed persist
    docs = ctx.hold(dedup._first_per_digest(
        docs.withColumn("_digest", F.md5(F.col(tcol))), icol
    ).localCheckpoint())
    seen = ctx.state("ledger")
    if seen is not None:
        # 100 TB shape: the naive batch ⟕anti ledger plans a
        # SortMergeJoin that SHUFFLES every ledger digest per
        # micro-batch — the dominant recurring cost once the ledger
        # dwarfs the batch, and unfixable by Spark alone (the LEFT side
        # of an anti-join is not broadcastable). anti_join_scan_state
        # flips it: the ledger is SCANNED against the broadcast batch
        # digests, and only the at-most-batch-sized collisions
        # broadcast back. A bulk-backfill batch above the gate runs the
        # same plan with plain shuffled joins.
        docs = relational.anti_join_scan_state(
            docs, seen, "_digest", "digest",
            broadcast=_fits_broadcast(ctx.n_in),
        )
    ctx.write("ledger", lambda adm, src: adm.select(
        F.col("_digest").alias("digest"), src
    ))
    return docs


def _neardup_leg(ctx: _Batch, docs: DataFrame) -> DataFrame:
    """MinHash near-dups: within the batch by LSH pairs → connected
    components, then across batches/runs by band-bucket candidates vs the
    ``bands/`` ledger, confirmed by signature-agreement est-Jaccard
    against ``sigs/``. Carries ``_sig`` forward."""
    cfg = ctx.cfg
    tcol, icol = cfg.text_col, cfg.id_col
    # ONE signature pass per batch, into the leg's input checkpoint: the
    # within-batch pairs, the cross-run probe and the sigs/bands writes
    # all read ``_sig`` off its blocks (null for docs too short to sign)
    docs = ctx.hold(docs.withColumn(
        "_sig", dedup._minhash_sig_udf()(tcol)
    ).localCheckpoint())
    sigs = docs.select(
        F.col(icol).alias("id"), F.col("_sig").alias("sig")
    ).filter(F.col("sig").isNotNull())
    # within-batch near-dups first — the SAME connected-components
    # canonical rule as the batch DAG (per-pair greatest-id removal
    # would admit a different survivor set from identical input:
    # pairs (1,3),(2,3) keep {1,2} pairwise but only {1} as one
    # component)
    docs = _drop_cluster_losers(docs, dedup.minhash_lsh_pairs(
        docs, text_col=tcol, id_col=icol, threshold=cfg.neardup_threshold,
        sigs=sigs, n_rows=ctx.n_in,
    ).select("id_a", "id_b"), icol)
    old_bands, old_sigs = ctx.state("bands"), ctx.state("sigs")
    if old_bands is not None and old_sigs is not None:
        # same 100 TB flip as the exact leg: bands/ and sigs/ grow with
        # the corpus. Scan bands against the broadcast (id, bucket)
        # pairs (payload = n_in × n_bands units — the gate counts it),
        # shrink to the collision set, then scan sigs against the
        # broadcast DISTINCT colliding old ids — never the batch
        # signatures themselves (num_hashes-int arrays × collision
        # count would be the one unbounded broadcast in the leg); the
        # batch _sig attaches AFTERWARDS via a shuffled join of two
        # collision-bounded frames. Output is bounded by the collision
        # count, never state size.
        bc = _fits_broadcast(ctx.n_in, ctx.n_in * dedup._BANDS)
        signed = docs.filter(F.col("_sig").isNotNull())
        # checkpointed: the sigs probe and the pair join below both read
        # the collision set, and bands/ (which grows with the corpus) is
        # scanned once per batch
        cand_ids = ctx.hold(relational.inner_join_scan_state(
            old_bands,
            signed.select(
                icol, F.explode(dedup._lsh_buckets("_sig")).alias("bucket")
            ),
            "bucket", broadcast=bc,
        ).select(icol, "old_id").distinct().localCheckpoint())
        old_hit = relational.inner_join_scan_state(
            old_sigs.withColumnRenamed("id", "old_id"),
            cand_ids.select("old_id").distinct(), "old_id", broadcast=bc,
        )
        cand = (
            signed.select(icol, "_sig")
            .join(cand_ids, icol)
            # shuffled on both sides by hint: neither collision-bounded
            # side is bounded by the gate, and left to AQE the runtime
            # broadcast went to whichever side's shuffle finished first —
            # a timing race that moved the batch's job count by one
            .join(old_hit.hint("merge"), "old_id")
        )
        est = dedup._sig_agreement(F.col("_sig"), F.col("old_sig"))
        near = (
            cand.filter(est >= F.lit(cfg.neardup_threshold))
            .select(icol)
            .distinct()
        )
        docs = docs.join(near, icol, "left_anti")
    ctx.write("sigs", lambda adm, src: adm.filter(
        F.col("_sig").isNotNull()
    ).select(F.col(icol).alias("id"), F.col("_sig").alias("old_sig"), src))
    ctx.write("bands", lambda adm, src: adm.filter(
        F.col("_sig").isNotNull()
    ).select(
        F.col(icol).alias("old_id"),
        F.explode(dedup._lsh_buckets("_sig")).alias("bucket"),
    ).withColumn("src_batch_id", src))
    return docs


def _overlap_leg(ctx: _Batch, docs: DataFrame) -> DataFrame:
    """Substring-overlap dedup (winnowed fingerprints — see the config
    docstring): within-batch first via the SAME connected-components
    canonical rule as the MinHash leg, then cross-batch/run against the
    admitted-fingerprint ledger. Boilerplate fps (present in more than
    overlap_fp_df_cap docs) are excluded on both sides — they are not
    copying evidence and they are exactly the viral keys that would blow
    up the equi-join fan-out. Carries ``_fps`` forward."""
    spark, cfg = ctx.spark, ctx.cfg
    tcol, icol = cfg.text_col, cfg.id_col
    overlap_mod = _resolve_overlap_mod(spark, ctx.path("fps"), cfg)
    # the leg's input, checkpointed: the winnow below, the bshared
    # semi-join and the drop and _fps joins all read it, and each read
    # would otherwise re-run the previous leg's probe
    docs = ctx.hold(docs.localCheckpoint())
    bfps = ctx.hold(text.winnow_fingerprints_df(
        docs, text_col=tcol, id_col=icol,
        k=cfg.overlap_k, w=_OVERLAP_W, impl="arrow",
    ).filter(
        F.col("fp") % overlap_mod == 0
    ).localCheckpoint())  # winnowing is window-heavy; 4 consumers below
    ok = bfps.join(
        bfps.groupBy("fp").agg(F.countDistinct(icol).alias("_df"))
        .filter(F.col("_df") <= cfg.overlap_fp_df_cap).select("fp"),
        "fp", "left_semi",
    )
    docs = _drop_cluster_losers(docs, (
        ok.select(F.col(icol).alias("id_a"), "fp")
        .join(ok.select(F.col(icol).alias("id_b"), "fp"), "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("fp").alias("_sh"))
        .filter(F.col("_sh") >= cfg.overlap_min_shared)
        .select("id_a", "id_b")
    ), icol)
    if cfg.overlap_drop_audit:
        ctx.report["overlap_dropped_pairs"] = 0
    old_fps = ctx.state("fps")
    if old_fps is not None:
        # batch side of the cross-run comparison: this batch's surviving
        # docs' df-CAPPED fps — capping the batch side too is symmetric
        # with the within-batch leg: a
        # fingerprint viral WITHIN the landing batch (new boilerplate — a
        # header pasted into thousands of docs in one drop) is not
        # copying evidence either, and uncapped it would fan out up to
        # batch_occurrences × overlap_fp_df_cap rows in the join before
        # the fp ever reaches state.
        bshared = ok.join(docs.select(icol), icol, "left_semi")
        # 100 TB shape (rounds 13-14): restrict state to batch-colliding
        # fps FIRST, then compute the df-cap as a window over the deduped
        # collision remnant. The semi-restrict keeps EVERY state row of
        # each colliding fp, so the per-fp distinct-doc count over the
        # remnant equals the full-state df for exactly the fps that can
        # reach `shared` — the cap decision is unchanged. Under the gate
        # the state SCANS beneath a BroadcastHashJoin of the batch's
        # distinct sampled fps; above it (bulk backfill) a plain shuffled
        # join — the one state shuffle the main comparison needs anyway.
        # A persisted per-fp df sidecar was considered and rejected: it
        # could only replace the df count, not the main join's state
        # shuffle, while adding a whole state surface. fps/doc has no
        # static bound (text length ÷ mod), so the gate measures the
        # checkpointed fps frame (a near-free count off cached blocks).
        hit = relational.inner_join_scan_state(
            old_fps, bshared.select("fp").distinct(), "fp",
            broadcast=_fits_broadcast(ctx.n_in, bfps.count()),
        )
        # ONE shuffle of the remnant, not two: repartition by fp FIRST —
        # HashPartitioning(fp) satisfies the dedup aggregate's
        # ClusteredDistribution([fp, old_id]) AND the window's
        # ClusteredDistribution([fp]), so a bare .distinct() followed by
        # the window would shuffle the collision remnant twice in the
        # adversarial every-doc-collides regime
        old_ok = (
            hit.select("fp", "old_id")
            .repartition("fp")
            .dropDuplicates(["fp", "old_id"])
            .withColumn(
                "_df",
                F.count("old_id").over(Window.partitionBy("fp")),
            )
            .filter(F.col("_df") <= cfg.overlap_fp_df_cap)
            .drop("_df")
        )
        # >= min_shared sampled fps with ANY SINGLE admitted doc — a
        # doc sharing one fp each with many docs is not a copy.
        shared = (
            bshared
            .join(old_ok, "fp")
            .groupBy(icol, "old_id")
            .agg(F.countDistinct("fp").alias("_sh"))
        )
        thr = F.lit(cfg.overlap_min_shared)
        if cfg.overlap_short_doc_frac is not None:
            # adaptive short-doc floor (see the config docstring):
            # per-doc threshold = min(absolute, max(2, ceil(f·own)))
            # where own counts the doc's non-boilerplate sampled fps
            # — the same capped population _sh is counted over, so
            # the fraction is a true share of the doc's evidence
            own = ok.groupBy(icol).agg(
                F.countDistinct("fp").alias("_own")
            )
            shared = shared.join(own, icol)
            thr = F.least(
                thr,
                F.greatest(
                    F.lit(2),
                    F.ceil(
                        F.lit(float(cfg.overlap_short_doc_frac))
                        * F.col("_own")
                    ).cast("int"),
                ),
            )
        dropped = shared.filter(F.col("_sh") >= thr)
        if cfg.overlap_drop_audit:
            # land the audit rows FIRST, then derive the drop set from
            # what landed — the audit provably matches the decision, and
            # a replayed batch overwrites its own partition with
            # identical rows (see the config docstring)
            dropped.select(
                F.col(icol),
                F.col("old_id"),
                F.col("_sh").alias("shared_fps"),
                thr.cast("int").alias("threshold"),
            ).withColumn(
                "src_batch_id", F.lit(int(ctx.batch_id)).cast("long")
            ).write.mode("overwrite").parquet(ctx.part("overlap_drops"))
            audit = spark.read.parquet(ctx.part("overlap_drops"))
            ctx.report["overlap_dropped_pairs"] = audit.count()
            over = audit.select(icol).distinct()
        else:
            over = dropped.select(icol).distinct()
        docs = docs.join(over, icol, "left_anti")
    # explode of a null array (a doc too short to fingerprint) yields no
    # rows
    ctx.write("fps", lambda adm, src: adm.select(
        F.col(icol).alias("old_id"), F.explode("_fps").alias("fp"), src
    ))
    # survivors' fingerprints ride to the fps write as an array column
    # (short docs produce none → null)
    return docs.join(
        bfps.groupBy(icol).agg(F.collect_list("fp").alias("_fps")),
        icol, "left",
    )


def _semantic_leg(ctx: _Batch, docs: DataFrame) -> DataFrame:
    """SemDeDup's cosine rule across batches AND runs (the semantic analog
    of the MinHash leg, same ordering: within-batch first — the batch
    DAG's keep-one-representative rule — then cross-batch against
    admitted state). Embeddings are derived in-engine
    (hashed_text_embedding at the centroids' dimension), so the ledger is
    self-contained; state rows are (cell_id, old_id, old_vec) and the
    cross-run comparison is an equi-join on cell_id — within-cell work
    only, bounded by the index's cell sizing (√n cells at the auto
    config), never a scan of all admitted vectors. Carries ``_semcell``
    and ``_semvec`` forward."""
    from ..functions.vectors import cosine, hashed_text_embedding
    from ..operators.similarity import _assign_cells, _small_rows, semdedup

    cfg, cents = ctx.cfg, ctx.sem_centroids
    tcol, icol = cfg.text_col, cfg.id_col
    # dim via the _small_rows memo: sem_centroids is ONE
    # run-scoped checkpointed handle, so the first batch pays one collect
    # and every later batch reads the memo
    dim = len(_small_rows(cents)[0].cent)
    # the leg's input and its embeddings in ONE checkpoint: the verdict,
    # the cell assignment, the cross-run broadcast build and the drop
    # joins all read it, and each read would otherwise re-run the
    # previous leg's probe
    docs = ctx.hold(docs.withColumn(
        "_emb", hashed_text_embedding(F.col(tcol), dim=dim)
    ).localCheckpoint())
    emb = docs.select(
        F.col(icol).alias("vec_id"), F.col("_emb").alias("embedding")
    )
    docs = docs.drop("_emb")
    verd = semdedup(
        emb, centroids=cents,
        threshold=cfg.semdedup_threshold, impl="arrow",
    )
    docs = docs.join(
        verd.filter(F.col("removed")).select(F.col("id").alias(icol)),
        icol, "left_anti",
    )
    # survivors' cells + vectors: reused for the cross-run check and
    # persisted for future batches — checkpoint the batch-bounded
    # assignment once instead of re-running the
    # crossJoin+window per consumer
    cur = ctx.hold(_assign_cells(
        emb.join(
            docs.select(F.col(icol).alias("vec_id")), "vec_id", "left_semi",
        ),
        cents, "vec_id", 1, "vec_id", "embedding",
    ).localCheckpoint())
    old_vecs = ctx.state("semvecs")
    if old_vecs is not None:
        # 100 TB shape: semvecs/ grows with the corpus. The
        # batch's (vec_id, cell_id, v) frame is batch-bounded, so it
        # broadcasts and the state streams under a BroadcastHashJoin —
        # output is bounded by the population of the batch's cells. The
        # payload is n_in dim-sized vectors, not n_in rows — the units
        # gate counts n_in × (dim + 2), or a doc-count-only gate would
        # force-broadcast gigabytes at the 1M-doc cap.
        near = relational.inner_join_scan_state(
            old_vecs, cur, "cell_id",
            broadcast=_fits_broadcast(ctx.n_in, ctx.n_in * (dim + 2)),
        ).filter(
            cosine(F.col("v"), F.col("old_vec"))
            >= F.lit(cfg.semdedup_threshold)
        ).select(F.col("vec_id").alias(icol)).distinct()
        docs = docs.join(near, icol, "left_anti")
    # the cell-bucketed vector state future batches compare against
    ctx.write("semvecs", lambda adm, src: adm.select(
        F.col("_semcell").alias("cell_id"),
        F.col(icol).alias("old_id"),
        F.col("_semvec").alias("old_vec"),
        src,
    ))
    return docs.join(
        cur.select(
            F.col("vec_id").alias(icol),
            F.col("cell_id").alias("_semcell"),
            F.col("v").alias("_semvec"),
        ),
        icol,
    )


def _write_admitted(ctx: _Batch, admitted: DataFrame, doc_cols) -> int:
    """Run the legs' queued state writes plus the corpus write; returns
    the admitted count. The writes all read the ADMITTED CHECKPOINT's
    blocks and land in different dirs with no ordering requirement
    between them (replay overwrite-repairs each independently) — submit
    them from a small thread pool (each write is a handful of
    tiny tasks, and running 4-6 of them serially left the session idle
    between job round-trips; measured 0.85 → ~0.35 s per 200-doc batch).
    Job descriptions are thread-local, so the UI stays labeled per write."""
    from concurrent.futures import ThreadPoolExecutor

    carried = [c for c in admitted.columns if c not in doc_cols]
    ctx.write("corpus", lambda adm, _src: adm.drop(*carried))
    with ThreadPoolExecutor(max_workers=4) as pool:
        n_admit = pool.submit(admitted.count)
        for fut in [pool.submit(fn, admitted) for _sub, fn in ctx.writes]:
            fut.result()  # propagate the first write failure loudly
        return n_admit.result()


def _maybe_coarsen_overlap(spark, state_dir: str, cfg,
                           lease=None) -> dict | None:
    """``cfg.overlap_coarsen_above_rows``: when the fps state's row count
    exceeds the budget, coarsen the sampling mod in-pipeline by the
    smallest power-of-two ratio that brings the EXPECTED post-shrink
    count back under it (rows at mod ``r·m`` are the ``fp % (r·m) == 0``
    subset — ~``1/r`` of the rows at ``m``, the nested-sampling
    arithmetic ``suggest_overlap_config`` documents). The check is a
    parquet footer-metadata count (no data pages; O(files) footers with
    the file count bounded by the fold cadence); the migration itself is
    :func:`coarsen_overlap_mod` — meta-first crash ordering, refused
    non-nested targets, the works. Returns its report dict (plus the
    row budget) or ``None`` when under budget / no state yet."""
    import math
    from ..io import read_parquet_state

    fps_dir = os.path.join(state_dir, "fps")
    state = read_parquet_state(spark, fps_dir)
    if state is None:
        return None
    rows = state.count()
    budget = int(cfg.overlap_coarsen_above_rows)
    if rows <= budget:
        return None
    meta_df = read_parquet_state(spark, fps_dir.rstrip("/") + "_meta")
    if meta_df is None:  # fps rows without meta: resolver hasn't run yet
        return None
    old_mod = int(meta_df.collect()[0].sample_mod)
    ratio = 1 << max(1, math.ceil(math.log2(rows / budget)))
    rep = coarsen_overlap_mod(
        spark, state_dir, old_mod * ratio,
        max_files=cfg.ingest_compact_max_files or 64, lease=lease,
    )
    rep["row_budget"] = budget
    return rep


def _maybe_compact_serve_index(spark, cfg) -> dict | None:
    """``cfg.index_compact_after_batches``: fold the serving index's
    append/tombstone log once the LIVE committed-entry count reaches the
    threshold — without a cadence, ``serve_index_append`` grows one log
    entry per ingest batch forever and every serve-session load pays
    listing + stamp-check + union per dir (the small-artifact growth
    ``compact_ingest_state`` bounds for the ledgers, applied to the
    index). Runs AFTER the current batch's append committed, so the fold
    may include it; killed batches cap the fold below their id inside
    ``compact_pq_index`` itself (pending ids ride back in the return
    dict), and a later replay of a folded batch no-ops via its idxmap
    reservation — both directions of the at-least-once contract hold
    with compaction interleaved."""
    from ..operators.ann_index import INDEX_LOG, compact_pq_index

    if not cfg.index_compact_after_batches:
        return None
    base = cfg.semdedup_index_path.rstrip("/")
    live = len(INDEX_LOG.view(spark, base).committed())
    if live < cfg.index_compact_after_batches:
        return None
    return compact_pq_index(spark, base)


def _append_serve_index(spark, admitted, cfg, icol, batch_id,
                        idxmap_dir) -> dict:
    """``cfg.serve_index_append``: append this batch's admitted vectors
    (the semantic ledger's ``_semvec`` — already derived at the index's
    dimension and family) to the persisted serving index, so ANN serving
    tracks the curated corpus batch-by-batch instead of waiting for an
    offline rebuild.

    At-least-once safety with the index's auto-assigned log ids needs a
    RESERVATION: ``append_to_pq_index(batch_id=None)`` on a replayed
    ingest batch would land a second copy of the same rows under a fresh
    id (duplicate served rows, silent). So the index log id for this
    ingest batch is reserved in ``idxmap/batch_id=N`` BEFORE the append
    — a replay finds the mapping and re-appends under the SAME id, which
    the index's replay discipline overwrite-repairs.

    The reservation is made VISIBLE to the index's own id discipline by
    landing the empty, marker-less attempted dir
    ``codes_append/batch=<id>`` the moment the id is chosen: a
    concurrent ``append_to_pq_index(batch_id=None)`` then auto-assigns
    PAST the reserved id instead of colliding inside the reserve→append
    crash window (the single-writer contract stays
    documented, but the guard is now mechanical). The id itself comes
    from ``ann_index.next_log_id`` — the same formula the WAL's auto
    path runs, public so the two cannot drift.

    Crash windows: before the attempted-dir mkdir → replay reserves
    fresh (no trace); between mkdir and mapping write → replay reserves
    fresh, the orphaned empty attempted dir blocks compaction until
    deleted (``pq_index_report`` flags it — loud, never silent); between
    mapping and append → replay appends under the reserved id
    (overwrite-repairs the attempted dir); after the append → replay
    overwrites with identical rows. A replay whose reserved id is at or
    below the compaction horizon no-ops: only COMMITTED entries fold, so
    the horizon proves the original append completed and its rows live
    in the codes snapshot — refusing (or re-appending) would break
    at-least-once under ``index_compact_after_batches``.

    The mapping row carries the ingest batch id as a DATA column
    (``ingest_batch_id``), not just the partition dir name, so
    ``compact_ingest_state`` can fold ``idxmap/`` into its archive
    partition without losing the lookup key."""
    from .. import fsutil
    from ..io import read_parquet_state, tiny_df
    from ..operators.ann_index import (
        INDEX_LOG,
        append_to_pq_index,
        next_log_id,
    )

    base = cfg.semdedup_index_path.rstrip("/")
    reserved = None
    # mergeSchema + coalesce-to-partition-id: same upgrade-window
    # treatment as _read_state — a provenance-less mapping row carries
    # only the partition dir's batch_id, and missing it here would make that
    # batch's replay reserve FRESH and append a silent duplicate copy
    mapping = read_parquet_state(spark, idxmap_dir, mergeSchema="true")
    if mapping is not None:
        rows = (
            mapping.filter(_batch_of(mapping, "ingest_batch_id") == batch_id)
            .select("index_batch_id").collect()
        )
        if rows:
            reserved = int(rows[0].index_batch_id)
    if (reserved is not None
            and reserved <= INDEX_LOG.view(spark, base).horizon):
        # replayed batch whose append was already folded away — see
        # docstring; identical rows are in the snapshot, nothing to do
        return {"batch_id": reserved, "rows": 0, "folded": True}
    if reserved is None:
        _sweep_orphan_reservations(spark, base, mapping)
        reserved = next_log_id(spark, base)
        fsutil.mkdirs(spark, f"{base}/codes_append/batch={reserved}")
        tiny_df(
            spark,
            [(int(batch_id), int(reserved))],
            "ingest_batch_id long, index_batch_id long",
        ).write.mode("overwrite").parquet(
            os.path.join(idxmap_dir, f"batch_id={batch_id}")
        )
    return append_to_pq_index(
        spark, cfg.semdedup_index_path,
        admitted.select(
            F.col(icol).alias("vec_id"),
            F.col("_semvec").alias("embedding"),
        ),
        batch_id=reserved,
        id_col="vec_id",
        vec_col="embedding",
        assign_impl="arrow",
    )


def ingest_state_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """Artifact-level report of an incremental-ingest state dir as a
    small queryable DataFrame — the ``curation_report_df`` /
    ``pq_index_report`` observability convention applied to the third
    state surface: one row per state artifact (``ledger``, ``sigs``,
    ``bands``, ``semvecs``, ``idxmap``, ``fps``, ``retracted``,
    ``corpus``) with parquet file
    count + bytes from the FileSystem LISTING (nothing is scanned), the
    number of live per-batch partition dirs, whether a fold archive
    (``batch_id=-1``) exists, and a loud ``detail`` flag when a KILLED
    fold swap left the dir's only copy in ``.__old__`` (healed
    automatically at the next ingest batch or compaction, but an
    operator reading the report should not have to infer that from a
    missing directory). Answers "is my state bounded, did maintenance
    run, is anything awaiting recovery" with one query — at 100 TB the
    alternative is grepping driver logs."""
    from .. import fsutil, statedir

    base = state_dir.rstrip("/")
    rows = []
    subs = [sub for sub, *_ in STATE_DIRS]
    subs.insert(subs.index("fps") + 1, "fps_meta")
    for sub in subs:
        path = f"{base}/{sub}"
        if sub == "fps_meta":
            # the overlap sampling-config sidecar is state too
            # — the report convention covers every artifact a dir holds.
            # Listing-only like every other row; the pinned mod/k/w are
            # one read_parquet_state away for whoever needs the values.
            if fsutil.is_dir(spark, path):
                n, b = fsutil.parquet_usage(spark, path)
                rows.append((sub, n, b, 0, False,
                             "overlap sampling-config sidecar (pinned "
                             "mod/k/w; coarsen_overlap_mod migrates it)"))
            continue
        old = fsutil.exists(spark, path + ".__old__")
        live = fsutil.is_dir(spark, path)
        if not live and not old:
            continue
        n, b = fsutil.parquet_usage(spark, path)
        # live per-batch dirs only — the -1 archive is its own column
        batches = len(
            statedir.numbered_dirs(spark, path, "batch_id=", above=-1)
        )
        archived = fsutil.is_dir(spark, f"{path}/batch_id=-1")
        # two distinct .__old__ states: live dir ABSENT = a fold died between
        # its two renames and .__old__ really is the only copy (the next
        # recover_replaced_dir restores it); live dir PRESENT = the fold
        # completed its rename-in but died before deleting the old copy —
        # superseded debris, NOT awaiting recovery (recover_replaced_dir
        # correctly leaves it; the dir's next fold clears it). The report
        # does not delete it itself: on an object store a crash mid
        # rename-in leaves a PARTIAL live dir alongside a FULL .__old__,
        # and a listing-only report cannot tell that apart from debris.
        if old and not live:
            detail = ("killed fold swap — only copy in .__old__, healed "
                      "at next ingest or compaction")
        elif old:
            detail = ("stale fold debris in .__old__ alongside the live "
                      "dir (superseded copy — cleared at this dir's next "
                      "fold)")
        else:
            detail = ""
        # a retraction's partition-swap sidecar: committed =
        # replacement children awaiting their rename (completed at the
        # next ingest batch or retract call); marker-less = a killed
        # write, discarded at the next heal — flagged either way so an
        # operator sees a retraction died mid-flight
        swap = path + ".__partswap__"
        if fsutil.exists(spark, swap):
            committed = fsutil.exists(spark, f"{swap}/{statedir.MARKER}")
            state = ("pending completion" if committed
                     else "killed write, discarded at next heal")
            detail = (detail + "; " if detail else "") + (
                f"retraction partition swap in .__partswap__ ({state})"
            )
        rows.append((sub, n, b, batches, archived, detail))
    # the writer lease is state too: show the current epoch,
    # holder record, and whether it is live or expired — "who is writing
    # this dir / is a crashed holder blocking maintenance" should be
    # answerable from the report, not from listing _lease by hand
    lease_detail = statedir.lease_report_detail(spark, base)
    if lease_detail is not None:
        rows.append(("_lease", 0, 0, 0, False, lease_detail))
    return spark.createDataFrame(
        rows,
        "artifact string, files int, bytes long, batches int, "
        "archived boolean, detail string",
    )


def _sweep_orphan_reservations(spark, base: str, mapping) -> int:
    """Self-heal the reservation protocol's one crash orphan: a kill
    between ``_append_serve_index``'s attempted-dir mkdir and its idxmap
    mapping write leaves an EMPTY ``codes_append/batch=N`` dir that no
    ingest batch will ever replay (no mapping points at it) — it would
    cap ``compact_pq_index`` (and the in-pipeline cadence) below its id
    forever until an operator noticed the ``pq_index_report`` flag and
    ran ``abandon_log_entry`` by hand. Under the serve-index contract
    (pipeline-managed index = single writer), an attempted append dir
    that is truly empty (zero children — a killed REAL append leaves
    data files or Spark's ``_temporary``) and unmapped in ``idxmap`` can
    only be this pipeline's own orphan, so the next fresh reservation
    deletes it before computing its id. Runs only on the fresh-
    reservation path (listing-sized work, and replays never reserve
    fresh). Returns the number swept."""
    from .. import fsutil
    from ..operators.ann_index import INDEX_LOG

    # candidates FIRST (normally zero), mapping check second — the idxmap
    # holds one row per ingest batch forever, so an unconditional collect
    # of every reserved id would grow with deployment lifetime; filtering
    # by the (at most handful of) empty dirs keeps this output-sensitive
    log = INDEX_LOG.view(spark, base)
    empties = [
        bid for bid in sorted(log.attempted("append"))
        # data or committer debris → a real batch, never swept
        if not fsutil.child_names(spark, log.path("append", bid))
    ]
    if not empties:
        return 0
    mapped = set()
    if mapping is not None:
        mapped = {
            int(r.index_batch_id)
            for r in mapping.filter(
                F.col("index_batch_id").isin(empties)
            ).collect()
        }
    swept = 0
    for bid in empties:
        if bid in mapped:
            continue  # crash between mapping and append — replay claims it
        log.abandon(bid, "_sweep_orphan_reservations")
        swept += 1
    return swept


def _state_surfaces(icol: str) -> tuple:
    """The six scrubbed ingest-state surfaces as ``(dir, surface key
    column, retraction-key column)`` — ledgers first, the corpus-sized
    dir last (the scrub/probe order shared by ``retract_documents``'s
    scrubs, its ``residual`` self-check, and ``prune_ingest_audit``'s
    completed-scrub detection)."""
    return tuple(
        (sub, icol if key == "id_col" else key,
         "digest" if key == "digest" else "doc_id")
        for sub, key, _flag in STATE_DIRS if key
    )


def _retraction_probe(keys: DataFrame, keys_col: str, key_col: str):
    """``(probe_df, match_condition)`` for the takedown's key matching —
    the ONE place the "which surface rows belong to a retraction key"
    rule lives, shared by the membership probe (``_surface_matches``) and
    the scrub rewrite's anti-join (they MUST agree, or the residual
    self-check probes a different set than the scrub removed).

    The match is the PAIR (key value, admitting batch), not the key
    value alone: surface rows carry their admitting batch either as the
    live partition value (``batch_id=N``) or, after a
    ``compact_ingest_state`` fold moved them under ``batch_id=-1``, as
    the ``src_batch_id`` provenance column — and the retraction keys
    carry ``admitted_batch_id``. Matching the bare key over-reaches in
    exactly one place: the digest-keyed ``ledger/``
    after a fold, where a DIFFERENT live doc that legitimately
    re-admitted identical content (same digest, other id, later batch)
    sits in the same archive partition — a bare-digest scrub deletes
    its exact-dedup evidence, and the residual probe (same bare key)
    then blesses the damage. Pair matching scopes both the scrub and
    the probe to the admissions actually being retracted. Archive rows
    with NO provenance column / a null ``src_batch_id`` (folds of
    provenance-less dirs) fall back to key-only matching — the
    conservative direction for a takedown (over-scrub legacy debris
    rather than leave the retracted doc live)."""
    probe = keys.select(
        F.col(keys_col).alias("__rk"),
        F.col("admitted_batch_id").cast("long").alias("__rb"),
    ).distinct()
    cond = (F.col(key_col) == F.col("__rk")) & (
        F.col("__src").isNull() | (F.col("__src") == F.col("__rb"))
    )
    return probe, cond


def _with_admitting_batch(df: DataFrame) -> DataFrame:
    """Stamp ``__src`` = the row's admitting batch: the live partition
    value, or ``src_batch_id`` for rows a fold moved into the
    ``batch_id=-1`` archive (null when the dir has no provenance column
    — key-only fallback in ``_retraction_probe``)."""
    folded = F.col("src_batch_id") if "src_batch_id" in df.columns else (
        F.lit(None)
    )
    return df.withColumn("__src", F.when(
        F.col("batch_id") == -1, folded.cast("long")
    ).otherwise(F.col("batch_id").cast("long")))


def _surface_matches(v: _Verb, icol: str, keys: DataFrame, batches) -> list:
    """``[(surface, key col, retraction-key col, rows)]``: each surface's
    rows matching the retraction keys (``_retraction_probe`` pairs),
    pruned to ``batches`` plus the ``batch_id=-1`` fold archive by ONE
    listing per surface (``None``: the keys' admission batches);
    surfaces with no such partition or key column are left out. The one
    membership probe behind the takedown scrub, its ``residual``, fsck's
    ``retraction_residual`` and the audit prune."""
    from .. import fsutil

    if batches is None:
        batches = [int(r[0]) for r in keys.select(
            "admitted_batch_id").distinct().collect()]
    out = []
    for sub, key_col, keys_col in _state_surfaces(icol):
        names = set(fsutil.child_names(v.spark, f"{v.base}/{sub}"))
        # the folded archive may hold any batch's rows
        parts = [p for p in [*batches, -1] if f"batch_id={p}" in names]
        if not parts:
            continue
        df = v.read(sub)
        if df is None or key_col not in df.columns:
            continue
        probe, cond = _retraction_probe(keys, keys_col, key_col)
        out.append((sub, key_col, keys_col, _with_admitting_batch(
            df.filter(F.col("batch_id").isin(parts))
        ).join(F.broadcast(probe), cond, "left_semi").drop("__src")))
    return out


def _live_matches(v: _Verb, icol: str, keys: DataFrame, batches) -> dict:
    """``{surface: {batch_id: matching rows}}`` for every surface in ONE
    query: branches are projected to ``(surface, batch_id)`` before the
    union, so digest and id key columns never mix. On takedown-sized keys
    per-query fixed cost (planning, codegen, JIT) outweighs the scan."""
    branches = [
        m.select(F.lit(sub).alias("surface"),
                 F.col("batch_id").cast("long").alias("batch_id"))
        for sub, _key, _kc, m in _surface_matches(v, icol, keys, batches)
    ]
    hits: dict = {}
    if branches:
        for r in reduce(DataFrame.unionByName, branches).groupBy(
            "surface", "batch_id"
        ).count().collect():
            hits.setdefault(r["surface"], {})[int(r["batch_id"])] = int(
                r["count"]
            )
    return {s: hits[s] for s, _k, _kc in _state_surfaces(icol) if s in hits}


def _served(codes: DataFrame, keys: DataFrame) -> DataFrame:
    """Rows of the served index view ``codes`` whose ``id`` is one of the
    ``doc_id`` values of ``keys`` (cast to the index id type)."""
    ids = keys.select(
        F.col("doc_id").cast(codes.schema["id"].dataType).alias("id")
    ).distinct()
    return codes.join(F.broadcast(ids), "id", "left_semi")


def retract_documents(
    spark: SparkSession, state_dir: str, ids, cfg: CurationConfig,
    dry_run: bool = False, lease=None,
) -> dict:
    """Takedown verb for the incremental-ingest state: one call removes a
    doc-id set from every surface its admission touched:

      ``corpus/``  — the document rows themselves (the erasure);
      ``ledger/``  — its md5 digest (keyed by digest, recomputed from the
      corpus text before the corpus is scrubbed);
      ``sigs/`` + ``bands/`` — its MinHash signature and band buckets;
      ``semvecs/`` — its per-cell embedding;
      ``fps/``     — its winnowed fingerprints;
      the serving index — a tombstone through the shared WAL id sequence
      (``ann_index.remove_from_pq_index``) when the index is
      pipeline-managed (``cfg.serve_index_append``).

    Runs inside :func:`_state_verb` (the state dir's writer lease, or a
    renewed pass-through run lease, and the entry heal), so a retraction
    racing an ingest run or another maintenance verb refuses loudly.
    ``dry_run`` holds the lease too: the entry heal mutates state.

    Physical deletes, not read-side filtering — and PARTITION-PRUNED
    after one key-resolution pass: resolving ids to
    ``(digest, admitted_batch_id)`` costs a single column-pruned corpus
    scan (id + text columns — there is no id→row index to consult;
    batch takedowns amortize it). From there every state surface
    partitions by the admitting ingest batch (plus the ``batch_id=-1``
    fold archive), and the keys carry each doc's ``admitted_batch_id``,
    so candidate partitions come from the keys without further scans,
    the membership count scans only those partitions, and only
    partitions actually holding retracted rows are rewritten
    (``statedir.swap_partitions`` — sidecar write + job-commit marker,
    per-child swap, healed by every verb's entry). A takedown's WRITE
    cost is the affected partitions, never a corpus rewrite; after
    ``compact_ingest_state`` folds a ledger, its archive partition is
    the granularity floor (the never-folded corpus keeps per-batch
    granularity forever). Per-row ``src_batch_id`` provenance survives
    the rewrite, so replay exclusion keeps working — and the scrub/probe
    match is the PAIR (key value, admitting batch) via
    ``_retraction_probe``, never the bare key: inside the fold archive a
    bare digest match would also delete a DIFFERENT doc's legitimately
    re-admitted identical content's ledger row (and the bare-key
    residual probe would bless it). Provenance-less legacy archive rows
    key-match as the conservative fallback.

    At-least-once interaction: a batch killed BEFORE its stream
    checkpoint committed will REPLAY after this verb ran, recompute its
    admission against the pre-batch state, and re-land its full row set
    — silently undoing the retraction for any retracted doc it
    admitted. So the verb FIRST records
    ``(doc_id, digest, admitted_batch_id)`` in a ``retracted/`` ledger
    (takedown-sized, batch-dir layout like every sibling), and
    ``_ingest_batch`` anti-joins each batch's docs against retraction
    rows whose ``admitted_batch_id`` equals the CURRENT batch id — a
    replay of batch N re-excludes exactly the docs retracted out of
    batch N, while a genuine re-submission of the same text in a LATER
    batch is admitted fresh (its batch id differs): retraction removes
    the doc's ledger footprint, it does not blocklist the content.

    Crash ordering / idempotence: record → scrub ledgers → scrub corpus
    → index tombstone. A crash anywhere is completed by re-running the
    verb with the same ids: the digest keys needed for the ``ledger/``
    scrub are read back from ``retracted/`` (the corpus rows they came
    from may already be gone), already-scrubbed dirs count zero matches
    and skip, and the index leg tombstones only ids still PRESENT in
    the served view (membership probe against the assembled codes —
    ids whose tombstone already landed are invisible, so a replayed
    verb never lands a duplicate tombstone entry). A retraction of ids
    never admitted is a loud-free no-op, same as deleting an absent
    file.

    ``ids`` is an iterable of doc ids or a one-column DataFrame —
    takedown-sized (it is collected and broadcast), never corpus-sized.
    Returns ``{"requested", "found", "scrubbed": {surface: rows_removed},
    "retract_batch_id": id | None, "index_tombstone": dict | None,
    "residual": n}`` and the ``retracted/`` ledger shows up in
    ``ingest_state_report``. ``residual`` is the verb's own
    postcondition check — a fresh partition-pruned membership probe for
    the retraction keys across every scrubbed surface (plus the served
    index when pipeline-managed) AFTER the scrubs; zero on success, and
    a non-zero value (broken down in ``residual_by_surface``) means the
    takedown did NOT fully land — loud, never silent.

    ``dry_run=True`` is the takedown PREVIEW: the same key resolution
    and partition-pruned membership counts, no new mutations — no
    ``retracted/`` record, no scrubs, no tombstone (the entry heal still
    completes a PRIOR crashed retraction's committed swaps: that work
    was already decided, and skipping it would preview rows that are
    logically gone). The report's ``scrubbed`` counts become would-scrub
    counts, ``index_tombstone`` becomes ``{"would_remove": n}`` for ids
    the index still serves, and ``dry_run: True`` rides the dict so
    callers can't mistake a preview for the real thing.
    Preview-then-execute is not atomic (a batch landing between the two
    can change the counts) — the executing call recomputes everything
    itself, so the preview is advisory only.

    Deliberately retained: ``overlap_drops/`` audit rows naming the
    retracted doc as the matched ``old_id`` (they record why OTHER docs
    were dropped and hold ids and counts, never content) and the
    ``retracted/`` record itself (doc id + content digest — the replay
    guard and crash-recovery keys; scrub-the-scrub would reopen the
    replay hole the record exists to close)."""
    from .. import fsutil, statedir

    with _state_verb(spark, state_dir, "retract_documents",
                     lease=lease) as v:
        tcol, icol = cfg.text_col, cfg.id_col
        if isinstance(ids, DataFrame):
            if len(ids.columns) != 1:
                raise ValueError(
                    f"retract_documents: ids DataFrame has columns "
                    f"{ids.columns} — pass exactly one id column"
                )
            id_vals = [r[0] for r in ids.distinct().collect()]
        else:
            id_vals = sorted(set(ids))
        out: dict = {"requested": len(id_vals), "found": 0, "scrubbed": {},
                     "retract_batch_id": None, "index_tombstone": None}
        if dry_run:
            out["dry_run"] = True
        if not id_vals:
            return out

        retr_dir = os.path.join(v.base, "retracted")
        # the retraction keys: (doc_id, digest, admitted_batch_id) from the
        # corpus rows still present, UNIONED with rows already recorded by a
        # prior (possibly crashed) run of this verb for the same ids — after
        # the corpus scrub the text (and so the digest) is only recoverable
        # from the record, which is why the record is written first
        corpus = v.read("corpus")
        found = None
        if corpus is not None and icol in corpus.columns:
            found = corpus.filter(F.col(icol).isin(id_vals)).select(
                F.col(icol).alias("doc_id"),
                F.md5(F.col(tcol)).alias("digest"),
                F.col("batch_id").cast("long").alias("admitted_batch_id"),
            ).localCheckpoint()
        prior = v.read("retracted")
        keys = None
        if prior is not None:
            keys = prior.filter(F.col("doc_id").isin(id_vals)).select(
                "doc_id", "digest", "admitted_batch_id",
                F.lit(False).alias("__new"),
            )
        if found is not None:
            # __new: the key came from the corpus, i.e. this run has
            # something to record
            new = found.withColumn("__new", F.lit(True))
            keys = new if keys is None else keys.unionByName(new)
        if keys is None:
            return out
        # dedup on the FULL key including admitted_batch_id: a doc retracted,
        # then re-submitted under the same id with identical text, then
        # retracted again contributes TWO rows differing only in
        # admitted_batch_id — the prior retracted/ record and the fresh corpus
        # row. Collapsing to one arbitrary row let the STALE record win, prune
        # cand_batches to the old batch's partitions, and silently skip the
        # live copy (found=1, scrubbed={}). Keeping both rows keeps both
        # admission batches in cand_batches; the record step and replay guard
        # already handle duplicates per batch correctly.
        keys = keys.dropDuplicates(
            ["doc_id", "digest", "admitted_batch_id", "__new"]
        ).localCheckpoint()
        # one takedown-sized collect of the (doc, admission batch) pairs:
        # "found" counts DOCS, not key rows — a re-admitted doc carries one
        # key row per admission batch but is still one takedown subject —
        # and the admission batches are the candidate partitions below
        pairs = keys.select(
            "doc_id", "admitted_batch_id", "__new"
        ).distinct().collect()
        out["found"] = len({r.doc_id for r in pairs})
        if out["found"] == 0:
            release_local_checkpoint(keys)
            if found is not None:
                release_local_checkpoint(found)
            return out

        # 1. record NEWLY-found rows as a retraction event (skipped when the
        #    corpus holds nothing new — a verb replay must not re-record)
        if not dry_run and any(r["__new"] for r in pairs):
            next_id = max(
                statedir.numbered_dirs(spark, retr_dir, "batch_id="),
                default=-1,
            ) + 1
            found.write.mode("overwrite").parquet(
                os.path.join(retr_dir, f"batch_id={next_id}")
            )
            out["retract_batch_id"] = next_id

        # every state surface partitions by the admitting ingest batch (or
        # the batch_id=-1 fold archive), and the retraction keys carry each
        # doc's admitted_batch_id — so the scrub is PARTITION-PRUNED end to
        # end: candidate partitions come from the keys (no scan), ONE
        # membership query counts every surface's hits over only those
        # partitions, and the rewrite touches only the partitions that
        # actually hold retracted rows. At 100 TB a takedown costs the
        # affected partitions, never a corpus pass. The per-partition swap is
        # statedir.swap_partitions (sidecar + job-commit marker; heal shared
        # with _ingest_batch's entry).
        cand_batches = sorted({int(r.admitted_batch_id) for r in pairs})
        hits = _live_matches(v, icol, keys, cand_batches)

        # 2. ledgers first (their keys live in `keys` regardless of corpus
        #    state), the corpus-sized dir last (_state_surfaces order)
        for sub, key_col, keys_col in _state_surfaces(icol):
            if sub not in hits:
                continue
            if not dry_run:
                path = os.path.join(v.base, sub)
                affected = sorted(hits[sub])
                # the rewrite's anti-join uses the SAME pair condition as the
                # probe (_retraction_probe): a bare-key anti-join over the
                # fold archive would also delete a different doc's
                # legitimately re-admitted identical content
                probe, cond = _retraction_probe(keys, keys_col, key_col)
                src = _with_admitting_batch(v.read(sub).filter(
                    F.col("batch_id").isin(affected)
                ))

                def _rewrite(tmp: str) -> None:
                    src.join(F.broadcast(probe), cond, "left_anti").drop(
                        "__src"
                    ).write.mode("overwrite").partitionBy(
                        "batch_id"
                    ).parquet(tmp)

                swapped = statedir.swap_partitions(spark, path, _rewrite,
                                                   lease=v.lease)
                # a partition whose every row was retracted yields no
                # replacement child (partitionBy writes no dir for zero rows)
                # — empty it by deleting the live child; a crash before these
                # deletes is completed by re-running the verb (the rows still
                # match)
                swapped_ids = {int(n.split("=", 1)[1]) for n in swapped}
                for p in affected:
                    if p not in swapped_ids:
                        fsutil.delete(spark, f"{path}/batch_id={p}")
            out["scrubbed"][sub] = sum(hits[sub].values())

        # 3. serving-index tombstone, only for ids the assembled view still
        #    SERVES (live tombstones already hide previously-retracted ids,
        #    so a verb replay probes zero and lands nothing) — through the
        #    shared WAL id sequence, after the ledgers so a crash here is
        #    completed by the re-run's probe
        if cfg.serve_index_append and cfg.semdedup_index_path:
            from ..operators.ann_index import (
                load_pq_index,
                remove_from_pq_index,
            )

            # leases are per-directory: the state-dir lease this verb holds
            # provides NO exclusion on the index dir, and a concurrent
            # compact_pq_index (cron-driven, under the index dir's own
            # lease) could delete the WAL dirs between this probe's listing
            # and its reads (the same guard check_ingest_state's index block
            # takes). The held index lease threads into
            # remove_from_pq_index so its scope renews instead of
            # self-acquiring against us.
            ibase = cfg.semdedup_index_path.rstrip("/")
            with statedir.lease_scope(spark, ibase, "retract_documents") as il:
                codes = load_pq_index(spark, cfg.semdedup_index_path).codes
                present = [r.id for r in _served(codes, keys).select(
                    "id").distinct().collect()]
                if present and dry_run:
                    out["index_tombstone"] = {"would_remove": len(present)}
                elif present:
                    out["index_tombstone"] = remove_from_pq_index(
                        spark, cfg.semdedup_index_path, present, lease=il
                    )

        # 4. postcondition SELF-CHECK: re-probe membership for the
        #    retraction keys on every surface just scrubbed, the same
        #    partition-pruned scan shape as the scrubs. A takedown verb must
        #    verify its own erasure — a bug upstream becomes a LOUD non-zero
        #    `residual` in the report instead of a silent success. The
        #    deliberately-retained `retracted/` record and overlap_drops/
        #    audit rows are excluded by design (see docstring).
        if not dry_run:
            residual = {
                sub: sum(h.values()) for sub, h in _live_matches(
                    v, icol, keys, cand_batches
                ).items()
            }
            if cfg.serve_index_append and cfg.semdedup_index_path:
                # same per-directory lease rationale as the tombstone leg
                # above; the count() materializes inside the scope
                with statedir.lease_scope(
                    spark, cfg.semdedup_index_path.rstrip("/"),
                    "retract_documents",
                ):
                    n = _served(load_pq_index(
                        spark, cfg.semdedup_index_path
                    ).codes, keys).count()
                if n:
                    residual["index"] = int(n)
            out["residual"] = int(sum(residual.values()))
            if residual:
                out["residual_by_surface"] = residual
        release_local_checkpoint(keys)
        if found is not None:
            release_local_checkpoint(found)
        return out


def _stream_commit_horizon(spark: SparkSession, state_dir: str) -> int:
    """Highest COMMITTED micro-batch id in the state dir's Structured
    Streaming checkpoint (``checkpoint/commits/<batchId>`` — the file the
    stream writes only after ``foreachBatch`` returned, so batches at or
    below it can never redeliver), or ``-1`` when the checkpoint has no
    commits yet / ``-2`` when no checkpoint dir exists at all (the state
    is not stream-driven)."""
    from .. import fsutil

    ckpt = os.path.join(state_dir.rstrip("/"), "checkpoint")
    if not fsutil.is_dir(spark, ckpt):
        return -2
    ids = []
    for name in fsutil.child_names(spark, os.path.join(ckpt, "commits")):
        try:
            ids.append(int(name))
        except ValueError:
            continue  # .tmp / metadata debris
    return max(ids, default=-1)


def prune_ingest_audit(
    spark: SparkSession,
    state_dir: str,
    cfg: CurationConfig,
    up_to_batch: int | None = None,
    max_files: int = 64,
    lease=None,
) -> dict:
    """Retention for the append-only AUDIT ledgers: ``overlap_drops/``
    grows one row per cross-run overlap drop, and ``retracted/`` rows are
    only needed for (a) the replay-guard window and (b) crash recovery of
    an incomplete scrub. ``compact_ingest_state`` folds both but never
    expires a row. This verb drops rows that can no longer matter:

    - the retention horizon is the stream checkpoint's COMMITTED batch
      id (``checkpoint/commits/`` — a batch at or below it can never
      redeliver, so its replay guard can never fire). ``up_to_batch``
      defaults to it; an explicit value ABOVE it is refused loudly —
      rows in the replay window are load-bearing, the same
      refuse-beyond semantics as every fold (``compact_journal``'s
      killed-run cap, ``compact_pq_index``'s pending cap). A state dir
      with NO checkpoint (driven by direct ``_ingest_batch`` calls) has
      no stream replay window; there an explicit ``up_to_batch`` is the
      caller asserting its own redelivery horizon, and the default
      prunes nothing.
    - ``overlap_drops``: rows with ``src_batch_id <= up_to_batch`` drop
      (the admission decision is final once the batch committed — the
      audit's purpose is operator forensics inside the retention
      window); rows missing the provenance column (pre-upgrade debris)
      are KEPT, the conservative direction.
    - ``retracted``: rows with ``admitted_batch_id <= up_to_batch`` drop
      ONLY if their scrub provably completed — a partition-pruned
      membership probe (same shape as the verb's own ``residual``
      self-check) finds no trace of the key on any state surface, AND —
      when the pipeline manages a serving index
      (``cfg.serve_index_append``) — the id is not still served: the
      index tombstone is the takedown's LAST step, so a record whose
      state scrubs completed but whose tombstone never landed must stay
      (pruning it would leave the verb's re-run nothing to find and the
      id serving forever). Rows still matching live state belong to an
      INCOMPLETE retraction (crashed mid-scrub): they are retained,
      counted in ``retained_incomplete``, and the operator re-runs
      ``retract_documents`` to finish the scrub first. Pruning them
      would strand unscrubable ledger digests (the record is the only
      carrier of the digest once the corpus text is gone). The probe
      matches the PAIR (key value, admitting batch) via
      ``_retraction_probe`` — the same rule the scrub itself applies —
      so a doc (or identical content under another id) legitimately
      RE-ADMITTED in a later batch no longer reads as the old
      admission being live, and its completed record prunes precisely.
      The conservative direction survives exactly where provenance is
      missing: fold-archive rows with no ``src_batch_id`` key-match any
      admission and keep the record — a kept audit row, never a kept
      document.

    Both rewrites are ``_Verb.fold`` (kept rows land in the
    ``batch_id=-1`` archive partition, bounded to
    ``max(1, max_files // 8)`` files) inside :func:`_state_verb` (writer
    lease, entry heal). Returns ``{"horizon", "up_to_batch",
    "overlap_drops": [before, after] | None, "retracted":
    [before, after] | None, "retained_incomplete": n}``."""
    from .. import statedir

    with _state_verb(spark, state_dir, "prune_ingest_audit",
                     lease=lease) as v:
        base = v.base
        horizon = _stream_commit_horizon(spark, base)
        if up_to_batch is None:
            up_to_batch = max(horizon, -1)
        elif horizon >= -1 and up_to_batch > horizon:
            raise ValueError(
                f"prune_ingest_audit: up_to_batch={up_to_batch} is above "
                f"the stream checkpoint's committed horizon ({horizon}) — "
                "batches above it can still redeliver and their audit "
                "rows are load-bearing (the retraction replay guard); "
                "prune at or below the horizon, or let the default use it"
            )
        out: dict = {"horizon": horizon, "up_to_batch": int(up_to_batch),
                     "overlap_drops": None, "retracted": None,
                     "retained_incomplete": 0}
        if up_to_batch < 0:
            return out

        # overlap_drops: provenance-column retention; missing column = keep
        drops = v.read("overlap_drops")
        if drops is not None:
            def _keep_drops(df):
                if "src_batch_id" not in df.columns:
                    return df
                return df.filter(
                    F.col("src_batch_id").isNull()
                    | (F.col("src_batch_id") > up_to_batch)
                )

            before = after = drops.count()
            if _keep_drops(drops).count() != before:
                v.fold("overlap_drops", max_files, _keep_drops)
                after = spark.read.parquet(f"{base}/overlap_drops").count()
            out["overlap_drops"] = [before, after]

        # retracted: drop only provably-completed retractions at/below the
        # horizon — probe every surface for each candidate key, the same
        # partition-pruned scan shape as retract_documents' residual check
        retr = v.read("retracted")
        if retr is None:
            return out
        before = retr.count()
        rec_cols = ["doc_id", "digest", "admitted_batch_id"]
        cand = retr.filter(
            F.col("admitted_batch_id") <= up_to_batch
        ).select(*rec_cols).distinct().localCheckpoint()
        live = []  # per probe: the cand RECORDS whose key is still live
        idx_ck = incomplete = None  # checkpoints besides cand
        try:
            if cand.count() > 0:
                for _sub, key_col, keys_col, matches in _surface_matches(
                    v, cfg.id_col, cand, None
                ):
                    # key VALUES still live on this surface (small —
                    # bounded by the candidate set), then back to the
                    # candidate RECORDS they retain: a hit on either key
                    # keeps the whole (doc_id, digest, batch) record
                    hit_vals = matches.select(
                        F.col(key_col).alias(keys_col)
                    ).distinct()
                    live.append(cand.join(
                        F.broadcast(hit_vals), keys_col, "left_semi"
                    ))
                if cfg.serve_index_append and cfg.semdedup_index_path:
                    # the takedown's LAST step is the serving-index
                    # tombstone: a record whose six state scrubs all
                    # completed but whose tombstone never landed (crash
                    # between steps, or a LeaseHeld on the index dir)
                    # probes clean on the surfaces above yet is NOT
                    # prunable — dropping it would strand the id serving
                    # forever, because the verb's re-run would find no
                    # keys (corpus scrubbed, record gone) and return
                    # before ever reaching its index leg. Same probe the
                    # verb's own `residual` self-check runs.
                    from ..operators.ann_index import load_pq_index

                    # leases are per-directory: reading the index WAL
                    # under only the STATE dir's lease races a concurrent
                    # compact_pq_index sweeping the dirs between listing
                    # and read — take the index dir's lease for the
                    # probe, and materialize the hits INSIDE the scope (a
                    # lazy frame would run the codes read after the lease
                    # released)
                    with statedir.lease_scope(
                        spark, cfg.semdedup_index_path.rstrip("/"),
                        "prune_ingest_audit",
                    ):
                        codes = load_pq_index(
                            spark, cfg.semdedup_index_path
                        ).codes
                        doc_type = cand.schema["doc_id"].dataType
                        hit_vals = _served(codes, cand).select(
                            F.col("id").cast(doc_type).alias("doc_id")
                        ).distinct()
                        idx_ck = cand.join(
                            F.broadcast(hit_vals), "doc_id", "left_semi"
                        ).localCheckpoint()
                    live.append(idx_ck)
            drop = cand
            if live:
                # takedown-history-sized: eager materialization so the
                # anti-join below and the count see one stable snapshot
                incomplete = reduce(
                    DataFrame.unionByName, live
                ).distinct().localCheckpoint()
                drop = cand.join(incomplete, rec_cols, "left_anti")
                out["retained_incomplete"] = int(
                    incomplete.select("doc_id").distinct().count()
                )
            if drop.count() > 0:
                drop_ck = drop.localCheckpoint()
                v.fold("retracted", max_files, lambda df: df.join(
                    F.broadcast(drop_ck), rec_cols, "left_anti"
                ))
                release_local_checkpoint(drop_ck)
            out["retracted"] = [
                int(before), spark.read.parquet(f"{base}/retracted").count()
            ]
        finally:
            for ck in (cand, idx_ck, incomplete):
                if ck is not None:
                    release_local_checkpoint(ck)
        return out


def coarsen_overlap_mod(
    spark: SparkSession, state_dir: str, new_mod: int, max_files: int = 64,
    lease=None,
) -> dict:
    """Maintenance verb that makes "raise the mod as the corpus grows"
    (the overlap config's standing advice, arithmetic in
    ``text.suggest_overlap_config``) an actual operation: re-pin the
    state dir's ``fps_meta`` at a COARSER power-of-two multiple of the
    current mod and shrink the ``fps/`` state to match. The meta
    contract refuses any other mod change, so without this verb a live
    deployment could only coarsen by discarding its ledger.

    Only nested coarsening is legal — ``new_mod`` a power-of-two
    multiple of the persisted mod — because every fp kept at ``2m`` was
    kept at ``m``: old state rows keep matching new probes at the
    coarser density, and the shrink is a pure filter
    (``fp % new_mod == 0``). Refusing finer/non-multiple mods is not
    pedantry: fps the finer sampling would need were never persisted,
    so "migrating" down would silently zero the match rate on old state
    — the exact failure the meta exists to prevent.

    Crash ordering: the meta is re-pinned FIRST, then ``fps/`` is folded
    (``_Verb.fold``). A crash between the two leaves meta=new over
    unshrunk state — a SUPERSET, still correct (probes sample at
    new_mod; the extra finer rows simply never match) — and re-running
    the verb completes the shrink: when ``new_mod`` already equals the
    persisted mod, the verb checks the state for rows a finished shrink
    could not contain (``fp % new_mod != 0`` — one cheap aggregate) and
    runs the fold iff any exist. A clean re-run (no such rows) stays a
    fold-free no-op. The reverse ordering would leave meta=old over
    already-shrunk state: probes at the finer mod would sample fps the
    state no longer holds and silently miss cross-run pairs. The entry
    heal of :func:`_state_verb` completes a retraction killed mid
    ``swap_partitions`` before the shrink reads fps rows (shrinking
    pre-swap rows would fold retracted fps into the archive). Runs under
    the state dir's writer lease (or a renewed pass-through run lease):
    a batch writing fps at the old mod concurrently with the shrink
    would land rows the meta no longer describes. ``max_files`` bounds
    the folded state's file count as in ``compact_ingest_state``.
    Returns ``{"old_mod", "new_mod", "fps_rows_before",
    "fps_rows_after"}``."""
    from ..io import read_parquet_state, tiny_df

    with _state_verb(spark, state_dir, "coarsen_overlap_mod",
                     lease=lease) as v:
        fps_dir, meta_dir = f"{v.base}/fps", f"{v.base}/fps_meta"
        meta = read_parquet_state(spark, meta_dir)
        if meta is None:
            raise ValueError(
                f"no fps_meta at {meta_dir} — nothing to coarsen (the meta "
                "is written by the first overlap batch)"
            )
        row = meta.collect()[0]
        old_mod = int(row.sample_mod)
        if new_mod != old_mod:
            ratio = new_mod // old_mod if old_mod else 0
            if new_mod < old_mod or ratio * old_mod != new_mod or (
                    ratio & (ratio - 1)) != 0:
                raise ValueError(
                    f"coarsen_overlap_mod: new_mod={new_mod} is not a "
                    f"power-of-two multiple of the persisted mod={old_mod} "
                    "— only nested coarsening keeps old state rows "
                    "matching new probes; a finer mod needs fps that were "
                    "never persisted (use a fresh state dir)"
                )
            tiny_df(
                spark,
                [(int(row.k), int(row.w), new_mod)],
                "k int, w int, sample_mod int",
            ).write.mode("overwrite").parquet(meta_dir)

        state = read_parquet_state(spark, fps_dir)
        if state is None:  # meta written, no fps yet (empty-corpus dir)
            return {"old_mod": old_mod, "new_mod": new_mod,
                    "fps_rows_before": 0, "fps_rows_after": 0}
        if new_mod == old_mod:
            # meta already at new_mod: either a clean re-run (no-op) or
            # the completion half of a crash between the meta re-pin and
            # the fold — distinguished by whether rows a finished shrink
            # could not contain are still present (see docstring)
            unshrunk = state.filter(F.col("fp") % new_mod != 0).count()
            if unshrunk == 0:
                return {"old_mod": old_mod, "new_mod": new_mod,
                        "fps_rows_before": None, "fps_rows_after": None}
        before = state.count()
        v.fold("fps", max_files,
               lambda df: df.filter(F.col("fp") % new_mod == 0))
        after = spark.read.parquet(fps_dir).count()
        return {"old_mod": old_mod, "new_mod": new_mod,
                "fps_rows_before": before, "fps_rows_after": after}


def compact_ingest_state(
    spark: SparkSession, state_dir: str, max_files: int = 64, lease=None,
) -> dict:
    """Maintenance for the incremental-ingest ledgers: every micro-batch
    appends a few small parquet files to each state dir, and after
    thousands of batches the anti-join pays file-listing + per-file-footer
    overhead far exceeding the data read (the classic small-file
    problem). Fold every state dir holding more than ``max_files``
    parquet files into one ``batch_id=-1`` archive partition of
    ``max(1, max_files // 8)`` files (``_Verb.fold``: the
    ``statedir.replace_dir`` tmp/old swap, through the Hadoop FileSystem
    API so it works on hdfs://, s3a:// and local alike).

    Archived rows keep their per-row provenance (the ``src_batch_id``
    data column the writers stamp; ``idxmap`` rows their
    ``ingest_batch_id``; ``retracted`` rows their ``doc_id`` and
    ``admitted_batch_id``), so the own-batch exclusion, the reservation
    lookup, the replay guard and a crashed retraction's digest recovery
    work identically before and after folding — a batch that replays
    after its partition dir was archived decides against exactly the
    pre-batch state and re-lands its rows. The replay's rewritten
    partition duplicates rows the archive already holds — harmless to
    every consumer (semi/anti joins and distinct-candidate joins are
    multiplicity-insensitive) and collapsed by the next fold's
    ``dropDuplicates``. The archive id is -1 so partition-based readers
    of provenance-less state still always keep it. ``corpus/`` is never
    folded: its per-batch partitions are ``retract_documents``'
    write-cost granularity; ``export_training_corpus`` derives a
    compacted copy instead.

    Runs inside :func:`_state_verb`: the writer lease (or a renewed
    pass-through run lease) and the entry heal — a committed
    ``.__partswap__`` sidecar from a killed retraction means the live dir
    still holds PRE-SCRUB rows, and folding them into ``batch_id=-1``
    would silently undo the erasure. Returns ``{dir: (files_before,
    files_after)}`` for the dirs it folded."""
    from .. import fsutil

    done: dict[str, tuple[int, int]] = {}
    with _state_verb(spark, state_dir, "compact_ingest_state",
                     lease=lease) as v:
        for sub, *_ in STATE_DIRS:
            path = f"{v.base}/{sub}"
            if sub == "corpus" or not fsutil.is_dir(spark, path):
                continue
            before = fsutil.parquet_file_count(spark, path)
            if before <= max_files:
                continue
            v.fold(sub, max_files)
            done[sub] = (before, fsutil.parquet_file_count(spark, path))
    return done


def export_training_corpus(
    spark: SparkSession,
    state_dir: str,
    out_dir: str,
    max_files: int = 64,
    columns: list[str] | None = None,
) -> dict:
    """Materialize a COMPACTED read-optimized copy of the live corpus
    for training consumers — the executable remedy the maintenance
    planner names for corpus file growth. The corpus state dir itself is
    deliberately never folded: its per-batch partitions are
    ``retract_documents``' write-cost granularity (a takedown rewrites
    only affected partitions), so after thousands of micro-batches a
    training job reading it pays O(batches) listings and footers. This
    verb derives a bounded-file-count plain-parquet copy instead of
    folding in place — the state keeps its granularity, the readers get
    big files.

    The export is a DERIVED artifact, not state: it holds no ledgers,
    carries no replay obligations, and is safely regenerated at any
    time — so it lands via the dot-tmp + rename discipline (a killed
    export leaves either the previous complete copy or nothing, never a
    partial dir a reader would trust; Spark's own ``_SUCCESS`` is
    stripped from the tmp and re-touched after the rename, the
    ``statedir.write_snapshot`` copy-ordering rule). ``dropDuplicates``
    collapses replay debris (a batch replayed after landing rewrites
    its partition with rows an earlier attempt may have duplicated
    into a fold archive — same multiplicity argument as
    ``compact_ingest_state``). Retracted documents are absent by
    construction: takedowns scrub the corpus state this reads.

    Runs inside :func:`_state_verb` like every state verb: its entry
    heal discards a marker-less ``.__partswap__`` sidecar, which is a
    LIVE retraction's in-flight scrub write unless the heal holds the
    writer lease; a concurrent writer gets ``statedir.LeaseHeld``.

    ``columns`` prunes the export (e.g. ``["doc_id", "text"]``);
    default keeps every corpus column. Returns ``{"rows", "files",
    "out_dir"}``."""
    from .. import fsutil, statedir

    with _state_verb(spark, state_dir, "export_training_corpus") as v:
        df = spark.read.option("mergeSchema", "true").parquet(
            f"{v.base}/corpus"
        )
        if "batch_id" in df.columns:
            df = df.drop("batch_id")
        if columns is not None:
            df = df.select(*columns)
        out = out_dir.rstrip("/")
        parent = os.path.dirname(out) or "."
        tmp = os.path.join(parent, f".{os.path.basename(out)}.tmp")
        fsutil.delete(spark, tmp)
        df.dropDuplicates().coalesce(max(1, max_files)).write.mode(
            "overwrite"
        ).parquet(tmp)
    # marker-last validity through the rename (statedir.write_snapshot's
    # copy-ordering rule): on object stores the rename is copy+delete
    # and _SUCCESS sorts before part-*, so a partial copy could carry it
    fsutil.delete(spark, f"{tmp}/{statedir.MARKER}")
    fsutil.delete(spark, out)
    fsutil.rename(spark, tmp, out)
    fsutil.touch(spark, f"{out}/{statedir.MARKER}")
    exported = spark.read.parquet(out)
    return {
        "rows": exported.count(),
        "files": fsutil.parquet_file_count(spark, out),
        "out_dir": out,
    }


def check_ingest_state(
    spark: SparkSession,
    state_dir: str,
    cfg: CurationConfig,
    batches=None,
    lease=None,
) -> DataFrame:
    """Cross-surface consistency check (fsck) for an incremental-ingest
    state dir — the verification complement of the per-verb
    postconditions: ``retract_documents`` re-probes its OWN keys
    (``residual``) and ``prune_ingest_audit`` probes before dropping,
    but nothing verified the standing cross-surface INVARIANTS the
    ledgers rely on. After a crash healed, a by-hand repair, or an
    off-contract writer, each of these holes is silent until it causes
    a wrong admission (a stale digest blocks a legitimate doc forever)
    or wrong serving (the index serves a retracted doc). One call
    cross-checks every invariant and returns findings as a DataFrame —
    the ``curation_report_df`` / ``ingest_state_report`` observability
    convention — with one row per check so a clean run is visibly
    clean, not merely empty:

      ``ledger_digest_without_corpus_row`` — a ``ledger/`` digest whose
      content no corpus row hashes to: dead weight that silently REFUSES
      re-admission of that content forever (the exact-dedup anti-join
      keys on it). Root causes: a corpus partition lost/hand-deleted, or
      a crashed scrub that finished ``corpus/`` but not ``ledger/``.
      ``corpus_row_without_ledger_digest`` — the reverse hole: an
      admitted doc exact-dedup no longer knows about, so a byte-identical
      duplicate would be re-admitted.
      ``derived_row_without_corpus_row`` (× ``sigs``/``bands``/
      ``semvecs``/``fps``, per the configured ledgers) — dedup evidence
      for a doc the corpus no longer holds: every future batch pays the
      join fan-out for it, and a near-duplicate of retracted content is
      silently dropped against a ghost.
      ``idxmap_reservation_without_append`` — an ``idxmap/`` row naming
      an index log id that is neither folded into the codes snapshot nor
      a committed (or attempted) ``codes_append`` batch: that batch's
      admitted vectors are NOT being served and no replay will repair
      them (an attempted-uncommitted dir is only a warning — the
      redelivery repairs it).
      ``admitted_doc_not_in_index`` — a corpus doc from an
      idxmap-reserved batch absent from every committed codes source
      (snapshot ∪ committed appends, TOMBSTONES IGNORED — a live manual
      tombstone is intentional absence, so those ids are excluded
      before flagging). FAIL while the index has never been compacted
      (the exclusion makes the check precise); WARN once a compaction
      horizon exists — a manually tombstoned doc's rows and its
      tombstone fold away together, metadata-indistinguishable from a
      lost append.
      ``retracted_doc_still_served`` — a ``retracted/`` doc id the
      assembled index view still serves WITHOUT a live corpus row
      explaining it: the takedown's index leg never landed (the exact
      failure mode the verb's last-step ordering +
      ``prune_ingest_audit``'s keep-while-served rule exist to
      contain). A retracted id later legitimately RE-SUBMITTED and
      re-appended serves by design — ids with a live corpus admission
      in a batch NO retraction record covers are excluded (counted in
      the detail; a live row in a recorded batch is an incomplete
      scrub and still fails); in batch-scoped mode a re-admission
      outside the scoped batches can't be ruled out, so findings
      downgrade to warn there.
      ``retraction_residual`` — ``retracted/`` keys still matching any
      state surface (the takedown verb's own residual probe, run over
      the WHOLE retraction history instead of one call's keys). WARN,
      not FAIL: the probe pairs each key with its admitting batch
      (``_retraction_probe``), so re-admissions no longer read as
      residue — but fold-archive rows without
      ``src_batch_id`` provenance key-match any admission
      (conservative fallback), and only the operator can adjudicate
      those.

    ``status`` per row: ``ok`` (invariant holds), ``fail`` (violated),
    ``warn`` (violated-or-conservative, see the check), ``skipped``
    (surface absent / not configured). ``n`` is the violation count and
    ``detail`` carries up to 5 sample keys so the operator can go look.

    Cost posture at 100 TB: the corpus appears in these joins as its
    (id, md5(text)) projection — ONE column-pruned corpus scan shared
    across the checks via ``localCheckpoint``, the same honest trade as
    ``retract_documents``' key resolution; every other side is
    ledger/metadata-sized. ``batches=[...]`` scopes the scan to those
    ingest batches (partition-pruned on every surface, plus each dir's
    fold archive) for an incremental post-maintenance check — verify
    the batches a crash window touched without paying a full pass.

    Read-only on the data surfaces (it mutates nothing it checks), but
    it HOLDS the writer lease: the entry heal completes prior killed
    swaps (already-decided work, same as ``retract_documents``'
    dry-run), and a concurrent writer would make every finding a
    false positive — quiescence is what makes fsck answers meaningful.
    The index-check block additionally takes the INDEX dir's lease
    (leases are per-directory — the state-dir lease provides no
    exclusion against a concurrent ``compact_pq_index`` deleting the
    WAL dirs between the horizon probe and the reads)."""
    from .. import statedir
    from ..io import tiny_df

    icol, tcol = cfg.id_col, cfg.text_col
    bsel = sorted(int(b) for b in batches) if batches is not None else None
    rows: list[tuple] = []
    schema = ("check string, surface string, status string, n long, "
              "detail string")

    def emit(check, surface, status, n, detail=""):
        rows.append((check, surface, status, int(n), detail))

    def sample(df, col, n):
        """up to 5 keys of a violated check's frame (``n`` rows); a check
        that holds names none and runs no query for them"""
        if not n:
            return ""
        vals = [str(r[0]) for r in df.select(col).limit(5).collect()]
        return ("sample " + col + ": " + ", ".join(vals)) if vals else ""

    def scoped(df):
        """Partition-pruned batch scope: live per-batch dirs carry their
        provenance as the partition value, folded rows carry it in the
        src_batch_id data column under batch_id=-1 — prune on the
        partition, then filter exactly on the provenance."""
        if bsel is None:
            return df
        return df.filter(
            F.col("batch_id").isin(bsel + [-1]) & _batch_of(df).isin(bsel)
        )

    with _state_verb(spark, state_dir, "check_ingest_state",
                     lease=lease) as v:
        corpus = v.read("corpus")
        have_corpus = corpus is not None and icol in corpus.columns
        ckeys = None
        if have_corpus:
            cs = corpus if bsel is None else corpus.filter(
                F.col("batch_id").isin(bsel)
            )
            # the one corpus-sized scan, shared by every check below —
            # batch_id rides along so the index block's per-batch scope
            # derives from this checkpoint instead of re-scanning the corpus
            ckeys = cs.select(
                F.col(icol).alias("doc_id"),
                F.md5(F.col(tcol)).alias("digest"),
                F.col("batch_id").cast("long").alias("batch_id"),
            ).localCheckpoint()

        # ledger ↔ corpus digest bijection (both directions)
        led = v.read("ledger")
        if led is None or ckeys is None:
            why = "no corpus" if ckeys is None else "no ledger"
            emit("ledger_digest_without_corpus_row", "ledger", "skipped", 0,
                 why)
            emit("corpus_row_without_ledger_digest", "corpus", "skipped", 0,
                 why)
        else:
            led_d = scoped(led).select("digest").distinct()
            # both directions counted in ONE full outer join: each distinct
            # ledger digest without a corpus row, and each corpus row without
            # a ledger digest, appears exactly once with the other side null
            n_orphan, n_unled = led_d.withColumn("__led", F.lit(True)).join(
                ckeys.select("digest", F.lit(True).alias("__cor")), "digest",
                "full_outer",
            ).agg(
                F.count_if(F.col("__cor").isNull()),
                F.count_if(F.col("__led").isNull()),
            ).collect()[0]
            orphan = led_d.join(
                ckeys.select("digest").distinct(), "digest", "left_anti"
            )
            emit("ledger_digest_without_corpus_row", "ledger",
                 "fail" if n_orphan else "ok", n_orphan,
                 sample(orphan, "digest", n_orphan))
            unled = ckeys.join(led_d, "digest", "left_anti")
            emit("corpus_row_without_ledger_digest", "corpus",
                 "fail" if n_unled else "ok", n_unled,
                 sample(unled, "doc_id", n_unled))

        # derived ledgers → corpus: evidence rows for ghosts, every surface
        # in ONE query — the (surface, doc_id) union, ids cast to the corpus
        # doc_id type (the coercion a per-surface join applies), left-anti
        # joined against the corpus ids and counted per surface
        derived = [(sub, key, getattr(cfg, flag))
                   for sub, key, flag in STATE_DIRS if key and flag]
        checked, branches = [], []  # checked: (surface, skip reason | None)
        for sub, key, configured in derived:
            df = v.read(sub)
            if df is None or key not in df.columns or ckeys is None:
                if configured:
                    checked.append((sub, "no corpus" if ckeys is None
                                    else "surface absent"))
                continue
            checked.append((sub, None))
            branches.append(scoped(df).select(
                F.lit(sub).alias("surface"),
                F.col(key).cast(
                    ckeys.schema["doc_id"].dataType
                ).alias("doc_id"),
            ))
        ghost, ghosts = None, {}
        if branches:
            ghost = reduce(DataFrame.unionByName, branches).distinct().join(
                ckeys.select("doc_id").distinct(), "doc_id", "left_anti"
            )
            ghosts = {r["surface"]: int(r["count"])
                      for r in ghost.groupBy("surface").count().collect()}
        for sub, why in checked:  # a skipped surface has no ghost count
            n = ghosts.get(sub, 0)
            emit("derived_row_without_corpus_row", sub,
                 "skipped" if why else "fail" if n else "ok", n,
                 why or sample(ghost.filter(F.col("surface") == sub),
                               "doc_id", n))

        # one read of the retraction history serves BOTH the still-served
        # index check and the whole-history residual probe below
        retr = v.read("retracted")

        # serving-index cross-checks (pipeline-managed index only). These
        # read the INDEX dir's WAL and codes sources, and the state-dir
        # lease this verb holds provides no exclusion there — a concurrent
        # compact_pq_index under the index dir's own lease could commit a
        # new snapshot and delete the dirs between the horizon probe and
        # the reads (a crashed fsck, or worse, false findings). Leases are
        # per-directory, so take the index dir's too for this block.
        if cfg.serve_index_append and cfg.semdedup_index_path:
            from ..operators.ann_index import INDEX_LOG, load_pq_index

            ibase = cfg.semdedup_index_path.rstrip("/")
            with statedir.lease_scope(spark, ibase, "check_ingest_state"):
                mapping = v.read("idxmap")
                if mapping is None:
                    emit("idxmap_reservation_without_append", "idxmap",
                         "skipped", 0, "no idxmap")
                    emit("admitted_doc_not_in_index", "corpus", "skipped", 0,
                         "no idxmap")
                else:
                    mrows = mapping.select(
                        _batch_of(mapping, "ingest_batch_id").alias("ingest"),
                        "index_batch_id",
                    ).collect()
                    if bsel is not None:
                        mrows = [r for r in mrows if int(r.ingest) in bsel]
                    log = INDEX_LOG.view(spark, ibase)
                    horizon, att_app = log.horizon, log.attempted("append")
                    lost = sorted(
                        int(r.index_batch_id) for r in mrows
                        if int(r.index_batch_id) > horizon
                        and int(r.index_batch_id) not in att_app
                    )
                    pending = sorted(
                        int(r.index_batch_id) for r in mrows
                        if int(r.index_batch_id) in att_app
                        and int(r.index_batch_id) in log.pending
                    )
                    if lost:
                        emit("idxmap_reservation_without_append", "idxmap",
                             "fail", len(lost),
                             f"index log ids with no trace: {lost[:5]}")
                    elif pending:
                        emit("idxmap_reservation_without_append", "idxmap",
                             "warn", len(pending),
                             f"attempted-uncommitted (replay repairs): "
                             f"{pending[:5]}")
                    else:
                        emit("idxmap_reservation_without_append", "idxmap",
                             "ok", 0, "")

                    if ckeys is None:
                        emit("admitted_doc_not_in_index", "corpus",
                             "skipped", 0, "no corpus")
                    else:
                        mapped_ing = sorted({int(r.ingest) for r in mrows})
                        srcs = [
                            log.snapshot_path() if horizon >= 0
                            else f"{ibase}/codes"
                        ] + [
                            log.path("append", b)
                            for b in log.committed("append")
                        ]
                        served_any = spark.read.parquet(*srcs).select("id")
                        id_type = served_any.schema["id"].dataType
                        # derived from the shared ckeys checkpoint — the
                        # docstring's one-corpus-scan promise (a raw corpus
                        # re-read here was a second full scan; bsel is
                        # already applied inside ckeys)
                        mcorp = ckeys.filter(
                            F.col("batch_id").isin(mapped_ing)
                        )
                        missing = mcorp.select(
                            F.col("doc_id").cast(id_type).alias("id")
                        ).distinct().join(served_any, "id", "left_anti")
                        # a live manual tombstone is INTENTIONAL absence
                        tomb_ids = log.committed("tombstone")
                        if tomb_ids:
                            tombs = spark.read.parquet(*[
                                log.path("tombstone", t) for t in tomb_ids
                            ]).select(F.col("id").cast(id_type).alias("id"))
                            missing = missing.join(tombs, "id", "left_anti")
                        n = missing.count()
                        # pre-compaction the check is PRECISE (every manual
                        # tombstone is still live and excluded above) →
                        # fail. Once a compaction has run (horizon >= 0) a
                        # manually tombstoned doc's rows AND its tombstone
                        # are purged together, indistinguishable from a
                        # lost append by metadata — WARN, not a permanent
                        # false fail on a healthy state.
                        if not n:
                            st, why = "ok", ""
                        elif horizon < 0:
                            st = "fail"
                            why = "; absent from every committed codes source"
                        else:
                            st = "warn"
                            why = ("; absent from snapshot + committed appends"
                                   " — lost append OR a manual tombstone the"
                                   " compaction folded (metadata cannot tell"
                                   " them apart post-fold)")
                        emit("admitted_doc_not_in_index", "corpus", st, n,
                             sample(missing, "id", n) + why)

                if retr is None:
                    emit("retracted_doc_still_served", "index", "skipped", 0,
                         "no retractions recorded")
                else:
                    codes = load_pq_index(spark, cfg.semdedup_index_path).codes
                    id_type = codes.schema["id"].dataType
                    rsel = retr if bsel is None else retr.filter(
                        F.col("admitted_batch_id").isin(bsel)
                    )
                    still = _served(codes, rsel).select("id").distinct()
                    # a retracted id the CORPUS currently holds under an
                    # admission NO retraction record covers was legitimately
                    # RE-SUBMITTED after its takedown (the documented
                    # semantics: retraction is not a content blocklist) and
                    # re-appended — serving it is correct, and
                    # prune_ingest_audit deliberately keeps the old record
                    # while the id is served, so without this exclusion a
                    # healthy state would FAIL here forever.
                    # The exclusion is PAIR-aware, like the scrubs: a live
                    # corpus row in the SAME batch a record names is an
                    # incomplete scrub (the takedown never finished), not a
                    # re-admission — only a live (id, batch) pair outside
                    # every record's (id, admitted_batch_id) clears the id.
                    # Live pairs come from the shared ckeys scan; in
                    # batch-scoped mode ckeys only covers bsel, so an
                    # out-of-scope re-admission can't be ruled out —
                    # findings there downgrade to warn.
                    n_re = 0
                    if ckeys is not None:
                        rec_pairs = retr.select(
                            F.col("doc_id").cast(id_type).alias("__rid"),
                            F.col("admitted_batch_id").cast("long")
                            .alias("__rbatch"),
                        ).distinct()
                        fresh = ckeys.select(
                            F.col("doc_id").cast(id_type).alias("id"),
                            F.col("batch_id").alias("__lb"),
                        ).distinct().join(
                            F.broadcast(rec_pairs),
                            (F.col("id") == F.col("__rid"))
                            & (F.col("__lb") == F.col("__rbatch")),
                            "left_anti",
                        ).select("id").distinct()
                        n_re = still.join(fresh, "id", "left_semi").count()
                        still = still.join(fresh, "id", "left_anti")
                    n = still.count()
                    st = "fail" if n else "ok"
                    why = sample(still, "id", n)
                    if n and bsel is not None:
                        st = "warn"
                        why += ("; batch-scoped — a re-admission outside the "
                                "scoped batches would also serve legitimately")
                    if n_re:
                        why = (why + "; " if why else "") + (
                            f"{n_re} retracted id(s) re-admitted later and "
                            "served — excluded (expected)"
                        )
                    emit("retracted_doc_still_served", "index", st, n, why)

        # retraction residual across the whole history (the verb's own
        # self-check shape; conservative post-fold — see docstring); reads
        # the retracted/ frame hoisted above (one listing, two consumers)
        if retr is None:
            emit("retraction_residual", "all", "skipped", 0,
                 "no retractions recorded")
        else:
            cand = retr if bsel is None else retr.filter(
                F.col("admitted_batch_id").isin(bsel)
            )
            residual = {
                sub: sum(h.values()) for sub, h in _live_matches(
                    v, icol, cand, None
                ).items()
            }
            total = sum(residual.values())
            emit("retraction_residual", "all", "warn" if total else "ok",
                 total,
                 ("; ".join(f"{sub}={n}" for sub, n in residual.items()) +
                  "; incomplete scrub OR a provenance-less legacy archive "
                  "row key-matching a re-admission (conservative fallback)")
                 if total else "")

        if ckeys is not None:
            release_local_checkpoint(ckeys)
        if not have_corpus:
            emit("corpus", "corpus", "skipped", 0, "corpus absent")
        return tiny_df(spark, rows, schema)
