"""Relational core — filters, windows, joins, top-k, group-collect
(SURVEY.md §2.b/c/d/e/f).

Scale notes (100 TB):
- Window ops partition by a key (never a global window) → each group's state
  fits one task; the only shuffle is the hash partition on the key.
- Anti/semi idempotency joins broadcast the *listing* side when small (the
  usual case: the set of already-produced outputs for one batch), else they
  shuffle on the join key — AQE picks at runtime.
- ``group_collect`` assumes bounded group sizes (pages per document), which
  holds for the reference's data model; unbounded groups would need a
  streaming re-formulation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def sibling_window(*part_cols: str, order_col: str = "sibling_pos") -> WindowSpec:
    """The document-sibling window every ordinal op uses (W1–W5):
    deterministic ordering is an explicit contract (SURVEY.md §7 hard parts)."""
    return Window.partitionBy(*part_cols).orderBy(order_col)


def ordinal(w: WindowSpec, zero_based: bool = False) -> Column:
    """W1/W2 — dense positional numbering. ``zero_based`` matches the
    reference's ``pdf_idx`` = count(preceding-sibling) (bin/main.py:161-165)."""
    rn = F.row_number().over(w)
    return (rn - 1) if zero_based else rn


def has_following(w: WindowSpec, pred: Column) -> Column:
    """W5 — following-sibling existential: true iff some *later* row in the
    window satisfies ``pred`` (bin/main.py:138's
    ``following-sibling::dao[@xlink:role=METS]``)."""
    flag = F.max(F.when(pred, 1).otherwise(0)).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    return F.coalesce(flag, F.lit(0)) == 1


def offset_renumber(
    work: DataFrame,
    existing: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    out_col: str = "new_number",
    ordinal_col: str | None = None,
) -> DataFrame:
    """W3/A4 — renumber ``work`` rows per group starting after the count of
    ``existing`` rows in the same group (bin/pulfarize.rb:59-77).

    The count side aggregates before the join (small per-group relation) so
    the join broadcasts; no row explosion.

    ``ordinal_col`` additionally emits the zero-based sibling ordinal (W2).
    Both columns derive from the SAME row_number assignment — two separate
    window computations could pair tied ``order_col`` rows differently,
    which would be nondeterministic when the sibling order is not total.
    """
    counts = existing.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("_existing"))
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    out = (
        work.join(F.broadcast(counts), list(group_cols), "left")
        .withColumn("_existing", F.coalesce(F.col("_existing"), F.lit(0)))
        .withColumn("_rn", F.row_number().over(w))
    )
    if ordinal_col is not None:
        out = out.withColumn(ordinal_col, F.col("_rn") - 1)
    return (
        out.withColumn(out_col, F.col("_rn") + F.col("_existing"))
        .drop("_existing", "_rn")
    )


def top_k_per_group(
    df: DataFrame,
    part_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """O2 — per-group bottom/top-k via row_number (never a global sort; the
    only shuffle is the hash partition on ``part_cols``).
    Reference: ``sort -n | head -2`` per image (bin/orient_image.sh:63-65)."""
    w = Window.partitionBy(*part_cols).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def argmin_per_group(
    df: DataFrame,
    part_cols: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """O3 — deterministic argmin (winner row) per group
    (``sort -n | head -1``, bin/orient_image.sh:76-78)."""
    return top_k_per_group(df, part_cols, order_by, 1).drop("rk")


def first_match_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    right_order: Sequence[str],
) -> DataFrame:
    """J1 — equi-join where only the *first* right-side match (by document
    order) participates, the reference's XPath ``[1]`` disambiguation
    (bin/main.py:491-493). Dedup-before-join keeps the join 1:1 (and the
    deduped right side usually broadcasts)."""
    w = Window.partitionBy(right_on).orderBy(*right_order)
    right_first = (
        right.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return left.join(right_first, left[left_on] == right_first[right_on])


def anti_join_existing(
    work: DataFrame, existing: DataFrame, on: Sequence[str]
) -> DataFrame:
    """J5/F3 — idempotency guard: keep only work whose output does not yet
    exist (every skip-if-exists check: bin/main.py:184,232,282,368)."""
    return work.join(existing, list(on), "left_anti")


def semi_join_existing(
    work: DataFrame, existing: DataFrame, on: Sequence[str]
) -> DataFrame:
    """J6 — process only items whose prerequisite exists
    (bin/publish-mets-only.rb:65)."""
    return work.join(existing, list(on), "left_semi")


def group_collect(
    df: DataFrame,
    key_cols: Sequence[str],
    payload: Column,
    sort: bool = True,
    out_col: str = "members",
) -> DataFrame:
    """A1 — the reference's ``fGroups`` dict-of-lists: group rows by key and
    collect ordered member structs (bin/dao.py:173-189). ``sort_array`` gives
    the deterministic member order the reference got from sorted dict keys."""
    collected = F.collect_list(payload)
    if sort:
        collected = F.sort_array(collected)
    return df.groupBy(*key_cols).agg(collected.alias(out_col))


def integrity_check(
    df: DataFrame, group_cols: Sequence[str], *preds: Column
) -> DataFrame:
    """F7 — all-parts-present gate before mutating outputs
    (bin/main.py:508-517,548-552): per group, every predicate must hold for
    every member. Returns groups with an ``intact`` boolean; callers route
    ``~intact`` to a quarantine sink instead of corrupting outputs."""
    agg = [F.bool_and(p).alias(f"_ok{i}") for i, p in enumerate(preds)]
    out = df.groupBy(*group_cols).agg(*agg)
    ok = F.lit(True)
    for i in range(len(preds)):
        ok = ok & F.col(f"_ok{i}")
    return out.withColumn("intact", ok).drop(*[f"_ok{i}" for i in range(len(preds))])


def anti_join_scan_state(
    batch: DataFrame, state: DataFrame, batch_key: str,
    state_key: str | None = None, broadcast: bool = True,
) -> DataFrame:
    """Batch rows whose key is NOT in a state table that dwarfs the
    batch — the anti-join shape for "decide a micro-batch against
    accumulated state" (the incremental ingest's cross-run exact-dedup
    ledger, and any ledger-vs-batch membership test at 100 TB).

    The naive ``batch.join(state, key, "left_anti")`` plans a
    SortMergeJoin that SHUFFLES every state row on the key, every
    micro-batch — at a 10^9-row ledger that is the dominant recurring
    cost of the whole pipeline, and Spark cannot fix it alone because
    the LEFT side of an anti-join is not broadcastable. Flip the work
    into two broadcasts of batch-sized frames:

      hits  = state ⋉ broadcast(batch keys)   -- state is SCANNED once,
                                                 never shuffled; output
                                                 is at most batch-sized
      out   = batch ⟕anti broadcast(hits)

    Semantically identical to the naive anti-join (a state key matches
    iff it collides with a batch key), with the state side reduced to a
    shuffle-free column scan. Callers gate on batch size:
    ``broadcast=False`` keeps the same two joins unhinted for
    bulk-backfill batches too large to broadcast (the ingest gates on
    its already-counted ``n_in``)."""
    hint = F.broadcast if broadcast else (lambda df: df)
    skey = state_key or batch_key
    hits = state.select(F.col(skey).alias(batch_key)).join(
        hint(batch.select(batch_key)), batch_key, "left_semi"
    )
    return batch.join(hint(hits), batch_key, "left_anti")


def inner_join_scan_state(
    state: DataFrame, small: DataFrame, key: str, broadcast: bool = True,
) -> DataFrame:
    """State ⨝ broadcast(small) with the huge state side streamed, never
    shuffled — the inner-join companion of :func:`anti_join_scan_state`
    for candidate-generation legs (the MinHash ledger's band-bucket
    probe, the signature fetch for confirmed candidates): put the
    state table on the streamed side of a BroadcastHashJoin and the
    batch-derived side in the broadcast. Output is bounded by the
    collision count, not the state size. ``broadcast=False``: the plain
    shuffled join, for a ``small`` side above the caller's gate."""
    return state.join(F.broadcast(small) if broadcast else small, key)
