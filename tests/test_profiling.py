"""Single-pass table profiler: every statistic checked against
straightforward per-column queries on the driver fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulfa_sausage_factory_spark.functions.profiling import profile_table
from pulfa_sausage_factory_spark.io import load_table


def test_profile_matches_direct_queries(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"
    )
    p = profile_table(li, exact=True)
    n = li.count()
    assert p["rows"] == n
    cols = p["columns"]
    assert set(cols) == {"l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"}

    direct = li.agg(
        F.count_distinct("l_orderkey").alias("dk"),
        F.min("l_quantity").alias("mn"),
        F.max("l_quantity").alias("mx"),
        F.avg("l_quantity").alias("av"),
        F.min(F.length("l_linestatus")).alias("lmin"),
        F.max(F.length("l_linestatus")).alias("lmax"),
    ).collect()[0]
    assert cols["l_orderkey"]["distinct"] == direct.dk
    assert cols["l_orderkey"]["nulls"] == 0
    assert cols["l_quantity"]["min"] == direct.mn
    assert cols["l_quantity"]["max"] == direct.mx
    assert cols["l_quantity"]["mean"] == pytest.approx(direct.av)
    assert cols["l_linestatus"]["min_len"] == direct.lmin
    assert cols["l_linestatus"]["max_len"] == direct.lmax
    q = cols["l_quantity"]["quantiles"]
    assert set(q) == {0.25, 0.5, 0.75} and q[0.25] <= q[0.5] <= q[0.75]
    # returnflag has 3 values in TPC-H data
    assert cols["l_returnflag"]["distinct"] == 3


def test_profile_single_job_and_sketch_mode(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # sketch mode: distinct estimate within rsd of exact
    approx = profile_table(docs, exact=False)
    exact = profile_table(docs, exact=True)
    a = approx["columns"]["doc_id"]["distinct"]
    e = exact["columns"]["doc_id"]["distinct"]
    assert abs(a - e) <= max(3, 0.15 * e)
    # nulls + complex columns: embeddings' array column gets nulls only
    emb = load_table(spark, sf_dir, "embeddings")
    pe = profile_table(emb)
    assert "distinct" not in pe["columns"]["embedding"]
    assert pe["columns"]["embedding"]["nulls"] == 0
    # nulls counted correctly
    with_nulls = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "id long, s string"
    )
    pn = profile_table(with_nulls, exact=True)
    assert pn["columns"]["s"]["nulls"] == 2
    assert pn["columns"]["s"]["distinct"] == 1


def test_compare_profiles_flags_real_drift_only(spark, sf_dir):
    # round-12 drift comparator: scale-free stats must NOT drift when the
    # same distribution arrives at a different volume, and must drift
    # when the distribution genuinely moves; schema changes are findings.
    from pulfa_sausage_factory_spark.functions.profiling import (
        compare_profiles,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    ref = profile_table(li, exact=True)

    # same distribution, half the volume → nothing drifts (rows is
    # context-only by contract)
    half = li.filter(F.col("l_orderkey") % 2 == 0)
    rep = compare_profiles(spark, ref, profile_table(half, exact=True))
    by = {(r.column, r.stat): r for r in rep.collect()}
    assert by[(None, "rows")].drifted is False
    drifted = [k for k, r in by.items() if r.drifted]
    assert drifted == [], f"false drift: {drifted}"

    # a genuine value shift drifts the value-space stats and says why
    shifted = li.withColumn("l_quantity", F.col("l_quantity") * 10)
    rep = compare_profiles(spark, ref, profile_table(shifted, exact=True))
    by = {(r.column, r.stat): r for r in rep.collect()}
    assert by[("l_quantity", "mean")].drifted
    assert "rel |Δ|" in by[("l_quantity", "mean")].detail
    assert by[("l_quantity", "q0.5")].drifted
    assert not by[("l_returnflag", "distinct")].drifted

    # genuine cardinality drift (vocabulary expansion at similar volume)
    # moves BOTH the absolute distinct count and the ratio → flagged;
    # the half-volume case above moved only the ratio → not flagged
    widened = li.withColumn(
        "l_returnflag",
        F.concat(F.col("l_returnflag"),
                 (F.col("l_orderkey") % 20).cast("string")),
    )
    rep = compare_profiles(spark, ref, profile_table(widened, exact=True))
    by = {(r.column, r.stat): r for r in rep.collect()}
    assert by[("l_returnflag", "distinct")].drifted

    # null-rate movement compares as an ABSOLUTE fraction
    nulled = li.withColumn(
        "l_returnflag",
        F.when(F.col("l_orderkey") % 3 == 0, None)
        .otherwise(F.col("l_returnflag")),
    )
    rep = compare_profiles(spark, ref, profile_table(nulled, exact=True))
    by = {(r.column, r.stat): r for r in rep.collect()}
    row = by[("l_returnflag", "null_frac")]
    assert row.drifted and row.ref == 0.0 and row.cur > 0.25

    # schema changes: removed / added / type are loud findings
    cur = profile_table(
        li.drop("l_returnflag")
        .withColumn("extra", F.lit("x"))
        .withColumn("l_quantity", F.col("l_quantity").cast("string")),
        exact=True,
    )
    rep = compare_profiles(spark, ref, cur)
    by = {(r.column, r.stat): r for r in rep.collect()}
    assert by[("l_returnflag", "presence")].detail == "removed"
    assert by[("extra", "presence")].detail == "added"
    assert by[("l_quantity", "type")].drifted
    assert "->" in by[("l_quantity", "type")].detail


def test_compare_profiles_distinct_volume_gate():
    # round-12 review: min(vocab Δ, ratio Δ) claimed "under pure volume
    # change one of the two stays put for ANY column" — false for
    # heavy-tailed MID-cardinality columns, where distinct grows
    # sublinearly in sample size (species accumulation): a 100× smaller
    # healthy batch moves BOTH deltas and flagged forever. The test is
    # now volume-gated: comparable volumes keep the min() test; a
    # volume mismatch keeps only the accumulation-monotonicity check
    # (the smaller sample cannot hold MORE vocabulary than the larger
    # one saw). Pure driver-side dict arithmetic — no Spark needed.
    from pulfa_sausage_factory_spark.functions.profiling import (
        compare_profile_rows,
    )

    def prof(rows, distinct):
        return {"rows": rows, "columns": {
            "domain": {"type": "string", "nulls": 0, "distinct": distinct},
        }}

    def distinct_row(ref, cur):
        rows = compare_profile_rows(ref, cur)
        (row,) = [r for r in rows if r[0] == "domain" and r[1] == "distinct"]
        return row  # (col, stat, ref, cur, delta, drifted, detail)

    # heavy-tailed column sampled at 1% volume: ref 100k/1M (ratio 0.1),
    # batch 6k/10k (ratio 0.6) — both deltas huge, but it is pure volume
    # change → NOT drift
    row = distinct_row(prof(1_000_000, 100_000), prof(10_000, 6_000))
    assert row[5] is False and "expansion-only" in row[6]

    # the smaller sample showing MORE vocabulary than the entire larger
    # reference ever held is unambiguous new values → drift
    row = distinct_row(prof(1_000_000, 100_000), prof(10_000, 150_000))
    assert row[5] is True and "expansion" in row[6]

    # symmetric: a LARGER current sample collapsing below the smaller
    # reference's vocabulary is key-space collapse → drift
    row = distinct_row(prof(10_000, 5_000), prof(1_000_000, 100))
    assert row[5] is True

    # comparable volumes keep the min() test: vocabulary growth at the
    # same volume drifts, same distribution at the same volume does not
    row = distinct_row(prof(100_000, 3), prof(95_000, 30))
    assert row[5] is True and "min(vocab" in row[6]
    row = distinct_row(prof(100_000, 3), prof(95_000, 3))
    assert row[5] is False


def test_ingest_reports_profile_drift(spark, tmp_path):
    # round-12: cfg.drift_ref_profile wires the comparator into the
    # incremental ingest — each batch profiles its parsed input against
    # the reference and the batch report carries the drifted rows.
    # Monitoring only: admission counts are unchanged by drift.
    import json as _json

    from pyspark.sql import types as T

    from pulfa_sausage_factory_spark.functions.profiling import (
        profile_table,
    )
    from pulfa_sausage_factory_spark.pipelines.curation_pipeline import (
        CurationConfig,
        _ingest_batch,
    )

    words = ("archive letter collection finding material box folder "
             "series inventory manuscript curator shelf record").split()

    def doc(i, reps):
        # unique per i (the rotation alone cycles at len(words) and the
        # ref would carry a real duplication-rate difference vs a batch
        # of fresh docs — which the comparator correctly flags)
        rot = words[i % len(words):] + words[:i % len(words)]
        return " ".join(rot * reps) + f" marker{i}"

    ref_df = spark.createDataFrame(
        [(i, doc(i, 2)) for i in range(40)], "doc_id long, text string"
    )
    # the reference is built ONCE — afford exact distincts (HLL
    # small-cardinality error can exceed the nominal rsd and read
    # as ratio drift on tiny fixtures)
    ref = profile_table(ref_df, exact=True)

    state = str(tmp_path / "state")
    sch = T.StructType.fromDDL("doc_id long, text string")
    cfg = CurationConfig(min_quality=0.0, neardup_method="none",
                         drift_ref_profile=ref)

    def lines(rows):
        return spark.createDataFrame(
            [(_json.dumps(r),) for r in rows], "value string"
        )

    # in-distribution batch: the monitor ran (key present) and is clean
    r0 = _ingest_batch(spark, lines(
        [{"doc_id": 100 + i, "text": doc(i, 2)} for i in range(10)]
    ), 0, cfg, state, sch)
    assert r0["admitted"] == 10
    assert r0["profile_drift"] == []

    # drifted batch: 10x longer docs move the text length stats; the
    # report names them and admission is untouched
    r1 = _ingest_batch(spark, lines(
        [{"doc_id": 200 + i, "text": doc(i, 20)} for i in range(10)]
    ), 1, cfg, state, sch)
    assert r1["admitted"] == 10
    drifted = {(d["column"], d["stat"]) for d in r1["profile_drift"]}
    assert ("text", "avg_len") in drifted

    # a malformed reference refuses loudly up front
    with pytest.raises(ValueError, match="drift_ref_profile"):
        bad = CurationConfig(min_quality=0.0, neardup_method="none",
                             drift_ref_profile={"oops": 1})
        _ingest_batch(spark, lines([]), 2, bad, state, sch)
