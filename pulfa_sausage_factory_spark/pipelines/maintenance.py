"""Maintenance planner: turn the state surfaces' cheap health signals
into one actionable plan DataFrame.

The engine's state surfaces each have an observability report
(``ingest_state_report``, ``pq_index_report``, ``journal_report``,
``curation_report_df``) and a set of maintenance verbs
(``compact_ingest_state``, ``compact_pq_index``, ``compact_journal``,
``coarsen_overlap_mod``, ``abandon_*``).
What an operator of a long-lived 100 TB deployment actually asks is the
composition: *which verbs should run NOW, and how badly*. This module
answers that — ``suggest_maintenance`` inspects every surface with the
SAME primitives the reports use (directory listings, sidecar meta, and
at most a handful of parquet FOOTER row counts — zero data pages) and
emits one row per recommended action.

Row schema: ``(surface, verb, urgency, reason)`` where ``urgency`` is

- ``info``      — visible but self-healing or cadence-handled; no
  operator action needed,
- ``recommend`` — a verb is due (cost/size threshold crossed),
- ``urgent``    — something is BLOCKED until the verb runs (killed
  batches capping compactions, orphaned reservations).

Advisory by design: the planner mutates nothing and takes NO lease —
it is a point-in-time listing snapshot, so a concurrent writer can skew
a count, never corrupt anything. For *correctness* findings (invariant
violations) run ``check_ingest_state`` — the fsck holds leases because
its answers are only meaningful under quiescence; the planner is about
COST and can be cheap instead.

Thresholds come from the config where the config has an opinion
(``ingest_compact_max_files``, ``index_compact_after_batches``,
``overlap_coarsen_above_rows``) — when a cadence
knob is SET, the pipeline already runs the verb itself and the planner
reports ``info`` instead of ``recommend`` (double-prompting an
automated action trains operators to ignore the plan). Keyword
defaults cover unconfigured deployments.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from .. import fsutil, statedir
from .curation_pipeline import STATE_DIRS

#: file-count threshold per ingest state dir when neither the call nor
#: cfg.ingest_compact_max_files supplies one — matches the
#: compact_ingest_state default used by the in-pipeline cadence
_DEFAULT_MAX_FILES = 64

#: live WAL entries (appends + tombstones) before an index fold is due
#: when cfg.index_compact_after_batches is unset
_DEFAULT_INDEX_COMPACT_AFTER = 16

#: appended-rows / train_rows fraction before an index retrain is
#: recommended — RECALL.md §3's measured decay holds ≥0.9 recall through
#: fraction 1.0 for IN-distribution appends, so the default prompts at
#: half that headroom; distribution SHIFT breaks recall at any fraction
#: (0.73 at f=0.1) and no row-count threshold can see it — drift
#: monitoring (cfg.drift_ref_profile) is the signal for that
_DEFAULT_RETRAIN_FRACTION = 0.5

#: attempted journal run dirs before a journal fold is due
_DEFAULT_JOURNAL_COMPACT_AFTER = 64


def suggest_maintenance(
    spark: SparkSession,
    state_dir: str,
    cfg,
    journal_dir: str | None = None,
    *,
    max_files: int | None = None,
    index_compact_after: int | None = None,
    retrain_fraction: float = _DEFAULT_RETRAIN_FRACTION,
    journal_compact_after: int = _DEFAULT_JOURNAL_COMPACT_AFTER,
    lease_ttl_sec: float = 900.0,
) -> DataFrame:
    """One plan row per maintenance action the state currently calls
    for (see the module docstring for the row schema, urgency ladder,
    and the advisory/no-lease contract). ``cfg`` is the deployment's
    ``CurationConfig``; ``journal_dir`` adds the publish journal's
    surface when given. Returns an EMPTY frame (same schema) when
    nothing is due — "no rows" is the healthy steady state."""
    rows: list[tuple] = []
    base = state_dir.rstrip("/")

    def emit(surface, verb, urgency, reason):
        rows.append((surface, verb, urgency, reason))

    _ingest_dir_signals(spark, base, cfg, max_files, emit)
    _vestigial_signals(spark, base, emit)
    _overlap_signals(spark, base, cfg, emit)
    _index_signals(spark, cfg, index_compact_after, retrain_fraction, emit)
    if journal_dir is not None:
        _journal_signals(spark, journal_dir, journal_compact_after, emit)
    _lease_signals(spark, base, cfg, lease_ttl_sec, emit)
    return spark.createDataFrame(
        rows, "surface string, verb string, urgency string, reason string"
    )


def _ingest_dir_signals(spark, base, cfg, max_files, emit) -> None:
    """Per-dir file growth vs the fold threshold, plus crash debris a
    heal (not an operator) owns — listings only."""
    threshold = int(
        max_files if max_files is not None
        else (cfg.ingest_compact_max_files or _DEFAULT_MAX_FILES)
    )
    cadence = cfg.ingest_compact_max_files is not None
    for sub, *_ in STATE_DIRS:
        path = f"{base}/{sub}"
        live = fsutil.is_dir(spark, path)
        old = fsutil.exists(spark, path + ".__old__")
        if old and not live:
            emit(sub, "compact_ingest_state", "info",
                 "killed fold swap — only copy in .__old__; any ingest "
                 "batch or maintenance verb heals it automatically")
            continue
        if not live:
            continue
        swap = path + ".__partswap__"
        if fsutil.exists(spark, swap):
            committed = fsutil.exists(spark, f"{swap}/{statedir.MARKER}")
            emit(sub, "retract_documents (replay) or any ingest batch",
                 "info",
                 "retraction partition swap pending "
                 + ("completion" if committed
                    else "discard (killed write)")
                 + " — healed automatically at the next verb")
        n, _b = fsutil.parquet_usage(spark, path)
        if n > threshold:
            if sub == "corpus":
                # round 14 (found by the stress end-to-end loop): the
                # corpus is DELIBERATELY never folded —
                # compact_ingest_state skips it by design, because
                # per-batch partitions are retract_documents' write-cost
                # granularity (a takedown rewrites only affected
                # partitions; a folded archive would be the rewrite
                # unit). Recommending the verb here was inexecutable:
                # running it could never clear the signal. The honest
                # row names the real remedy for downstream readers.
                emit(sub, "export_training_corpus", "info",
                     f"{n} parquet files in the corpus — kept per-batch "
                     "by design (takedown granularity); downstream "
                     "training reads paying O(files) overhead should "
                     "export a compacted copy, not fold in place")
                continue
            emit(sub, "compact_ingest_state",
                 "info" if cadence else (
                     "urgent" if n > 4 * threshold else "recommend"),
                 f"{n} parquet files > fold threshold {threshold}"
                 + ("; cfg.ingest_compact_max_files is set — the next "
                    "ingest batch folds it" if cadence else
                    " — per-batch state reads pay O(files) listings and "
                    "footers"))


def _vestigial_signals(spark, base, emit) -> None:
    """State dirs left behind by removed features: nothing reads them,
    so name each once and let the operator reclaim the space."""
    if fsutil.exists(spark, f"{base}/ledger_bloom"):
        emit("ledger_bloom", "delete ledger_bloom/", "info",
             "vestigial sidecar of the removed Bloom feature; nothing "
             "reads it")


def _overlap_signals(spark, base, cfg, emit) -> None:
    """Overlap-fps state growth: under the auto-coarsen cadence the
    pipeline handles it (info); without the cadence, recommend a manual
    coarsen once the fps ledger dwarfs the digest ledger. Two footer
    row counts (zero data pages) — the only non-listing cost in the
    planner besides the index staleness row."""
    from ..io import read_parquet_state

    fps_dir = f"{base}/fps"
    if not fsutil.is_dir(spark, fps_dir):
        return
    fps = read_parquet_state(spark, fps_dir)
    if fps is None:
        return
    fps_rows = fps.count()
    if cfg.overlap_coarsen_above_rows is not None:
        if fps_rows > int(cfg.overlap_coarsen_above_rows):
            emit("fps", "coarsen_overlap_mod", "info",
                 f"{fps_rows} fps rows > budget "
                 f"{cfg.overlap_coarsen_above_rows}; "
                 "cfg.overlap_coarsen_above_rows is set — the next "
                 "ingest batch coarsens the mod itself")
        return
    led = read_parquet_state(spark, f"{base}/ledger")
    led_rows = led.count() if led is not None else 0
    if led_rows and fps_rows > 8 * led_rows:
        emit("fps", "coarsen_overlap_mod", "recommend",
             f"{fps_rows} fps rows vs {led_rows} ledger docs (ratio "
             f"{fps_rows / led_rows:.0f}x) — state rows per admitted doc "
             "are the overlap ledger's recurring scan cost; "
             "suggest_overlap_config sizes the coarser mod")


def _index_signals(spark, cfg, compact_after, retrain_fraction,
                   emit) -> None:
    """Serving-index WAL: killed/orphaned entries capping compaction
    (urgent — nothing else unblocks it), fold due by live entry count,
    and appended-staleness vs the measured retrain threshold."""
    from ..io import read_parquet_state
    from ..operators.ann_index import INDEX_LOG

    idx = getattr(cfg, "semdedup_index_path", None)
    if not idx:
        return
    ibase = idx.rstrip("/")
    if read_parquet_state(spark, f"{ibase}/meta") is None:
        return
    log = INDEX_LOG.view(spark, ibase)
    pending, live = log.pending, len(log.committed())
    if pending:
        emit("index_wal", "replay the batch or abandon_log_entry",
             "urgent",
             f"uncommitted WAL ids {pending[:5]} cap compact_pq_index "
             f"below {min(pending)} — killed appends await their "
             "at-least-once replay; a truly-empty unmapped reservation "
             "is swept at the next fresh reservation or abandoned by "
             "hand")
    threshold = int(
        compact_after if compact_after is not None
        else (cfg.index_compact_after_batches
              or _DEFAULT_INDEX_COMPACT_AFTER)
    )
    cadence = bool(cfg.index_compact_after_batches)
    if live >= threshold:
        emit("index_wal", "compact_pq_index",
             "info" if cadence else "recommend",
             f"{live} live committed WAL entries >= {threshold} — every "
             "serve-session load pays listing + stamp-check + union per "
             "entry"
             + ("; cfg.index_compact_after_batches is set — the next "
                "ingest batch folds it" if cadence else ""))
    # staleness (same footer arithmetic as pq_index_report's row)
    meta_json = read_parquet_state(
        spark, f"{ibase}/meta"
    ).limit(1).collect()[0].meta_json
    train = json.loads(meta_json).get("train_rows")
    if not train:
        return
    app_paths = [log.path("append", b) for b in log.committed("append")]
    appended = (
        spark.read.parquet(*app_paths).count() if app_paths else 0
    )
    if log.horizon >= 0:
        appended += max(
            0,
            spark.read.parquet(log.snapshot_path()).count() - int(train),
        )
    frac = appended / int(train)
    if frac >= retrain_fraction:
        emit("index", "retrain_pq_index",
             "recommend",
             f"~{appended} rows appended over train_rows={train} "
             f"(fraction {frac:.2f} >= {retrain_fraction}) — appends "
             "encode against codebooks frozen at build; RECALL.md §3 "
             "has the measured decay (in-distribution holds to 1.0, "
             "SHIFTED data breaks at any fraction — watch "
             "cfg.drift_ref_profile, not just this count)")


def _journal_signals(spark, journal_dir, compact_after, emit) -> None:
    """Publish journal: killed runs blocking the fold, and fold-due by
    attempted run-dir count."""
    from ..streaming.incremental import JOURNAL_LOG

    log = JOURNAL_LOG.view(spark, journal_dir)
    attempted, killed = log.attempted(), log.pending
    if killed:
        emit("journal", "replay the run or abandon_run", "urgent",
             f"killed run ids {killed[:5]} (attempted dir, no commit "
             f"marker) cap compact_journal below {min(killed)}")
    if len(attempted) >= compact_after:
        emit("journal", "compact_journal", "recommend",
             f"{len(attempted)} live run dirs >= {compact_after} — "
             "every journal read unions one partition per run")


def _lease_signals(spark, base, cfg, ttl_sec, emit) -> None:
    """Expired writer-lease records: harmless (the next writer fences
    them at epoch+1) but visible — a crashed holder mid-verb usually
    also left the debris the heals own, so say so."""
    import time

    for name, path in (
        ("state", base),
        ("index", (getattr(cfg, "semdedup_index_path", None) or "").rstrip("/")),
    ):
        if not path:
            continue
        epochs = statedir.numbered_dirs(
            spark, f"{path}/{statedir.LEASE_DIR}", "epoch="
        )
        if not epochs:
            continue
        cur = max(epochs)
        try:
            age = (
                time.time() * 1000
                - fsutil.mtime_ms(
                    spark, f"{path}/{statedir.LEASE_DIR}/{epochs[cur]}"
                )
            ) / 1000.0
        except Exception:
            continue  # released between listing and stat
        if age > ttl_sec:
            emit(f"_lease ({name})", "none — next writer fences it",
                 "info",
                 f"lease epoch {cur} expired {age - ttl_sec:.0f}s ago "
                 "(holder crashed or done); acquisition takes over at "
                 f"epoch {cur + 1}")
