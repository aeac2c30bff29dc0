"""Tests for the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import subprocess
import sys
import textwrap
import threading

import numpy as np
import pytest

import gen
import sparkstats
import stats
import tracer as tr


class FakeClock:
    def __init__(self):
        self.t = 1000.0

    def __call__(self):
        return self.t

    def at(self, t):
        self.t = t


# -- tail percentile ------------------------------------------------------

@pytest.mark.parametrize("n, want_p", [
    (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_beyond(n, want_p):
    got = stats.tail(range(1, n + 1))
    if want_p is None:
        assert got is None
        return
    p, value = got
    assert p == want_p
    assert n - value >= 10  # values are 1..n, so n - value samples lie beyond
    higher = [q for q in stats.PERCENTILES if q > p]
    if higher:  # the next percentile up would leave fewer than ten
        assert n - int(np.ceil(higher[0] * n / 100 - 1e-9)) < 10


def test_spread_matches_statistics_quantiles():
    xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    import statistics

    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert stats.spread(xs) == pytest.approx((q3 - q1) / 14.5)


# -- intervals and self time -----------------------------------------------

def test_interval_union_and_subtract():
    assert tr.union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert tr.subtract([(0, 10)], [(2, 3), (2.5, 4), (8, 12)]) == [
        (0, 2), (4, 8)]
    assert tr.length([(0, 2), (1, 3)]) == 3


def test_self_time_of_nested_spans():
    clk = FakeClock()
    t = tr.Tracer(clock=clk)
    clk.at(0)
    root = t.open("op.x", "op")
    clk.at(1)
    a = t.open("operators.dedup.f", "operators.dedup")
    clk.at(2)
    b = t.open("operators.dedup.g", "operators.dedup")  # same-layer child
    clk.at(4)
    t.close(b)
    clk.at(5)
    t.close(a)
    clk.at(6)
    c = t.open("io.h", "io")
    clk.at(7)
    t.close(c)
    clk.at(10)
    t.close(root)
    assert (a.parent, b.parent, c.parent) == (root.sid, a.sid, root.sid)
    table = tr.layer_table(t.spans, {}, {}, cores=4)
    dd = table["operators.dedup"]
    assert dd["calls"] == 2
    assert dd["wall_s"] == pytest.approx(4)  # outermost span only
    assert dd["self_s"] == pytest.approx(4)  # (4 - 2) + 2
    assert table["io"]["self_s"] == pytest.approx(1)
    assert table["op"]["self_s"] == pytest.approx(10 - 4 - 1)
    dur, own, kids = tr.root_accounting(root, t.spans)
    assert (dur, own, kids) == pytest.approx((10, 5, 5))


# -- job attribution -------------------------------------------------------

def test_jobs_go_to_innermost_span_by_submission_time_across_threads():
    clk = FakeClock()
    t = tr.Tracer(clock=clk)
    clk.at(0)
    root = t.open("op.batch", "op")
    clk.at(1)
    leg = t.open("pipelines.curation_pipeline.f", "pipelines.curation_pipeline")
    pooled = {}

    def pool_thread():
        # a program-started thread: no span of its own on entry, so its
        # span nests under the innermost span open anywhere
        clk.at(2)
        pooled["span"] = t.open("io.write", "io")
        clk.at(3)
        t.close(pooled["span"])

    th = threading.Thread(target=pool_thread)
    th.start()
    th.join(timeout=10)
    assert not th.is_alive()
    clk.at(5)
    t.close(leg)
    clk.at(8)
    t.close(root)
    assert pooled["span"].parent == leg.sid
    assert pooled["span"].thread != root.thread
    jobs = [
        tr.Job(0, 0.5, 0.9, [0]),   # root self time
        tr.Job(1, 2.5, 2.8, [1]),   # submitted from the pool thread's span
        tr.Job(2, 4.0, 4.5, [2]),   # a pool thread without spans: the leg
        tr.Job(3, 6.0, 7.0, [3, 4]),
        tr.Job(4, 9.0, 9.5, [5]),   # after every span closed
        tr.Job(5, 7.5, 7.9, [4]),   # lists stage 4 again: skipped there
    ]
    by_span, lost = tr.attribute(t.spans, jobs)
    assert [j.jid for j in by_span[root.sid]] == [0, 3, 5]
    assert [j.jid for j in by_span[pooled["span"].sid]] == [1]
    assert [j.jid for j in by_span[leg.sid]] == [2]
    assert [j.jid for j in lost] == [4]
    assert sorted(j.jid for j in tr.by_root(t.spans, by_span)[root.sid]) == [
        0, 1, 2, 3, 5]
    stages = {i: tr.StageStats(tasks=2, run_ms=1000,
                               shuffle_write_bytes=10**6) for i in range(6)}
    per_job = tr.job_totals(jobs, stages)
    assert per_job[3].tasks == 4 and per_job[5].tasks == 0
    table = tr.layer_table(t.spans, by_span, per_job, cores=2)
    assert sum(r["jobs"] for r in table.values()) + len(lost) == len(jobs)
    assert table["io"]["shuffle_mb"] == pytest.approx(1.0)
    leg_row = table["pipelines.curation_pipeline"]
    # leg self time = [1,2) + [3,5); its job 2 ran [4,4.5)
    assert leg_row["self_s"] == pytest.approx(3)
    assert leg_row["driver_s"] == pytest.approx(2.5)
    assert leg_row["slot_idle_frac"] == pytest.approx(1 - 1 / (3 * 2))


def test_millisecond_rounding_slack():
    clk = FakeClock()
    t = tr.Tracer(clock=clk)
    clk.at(10.0004)
    sp = t.open("op.x", "op")
    clk.at(11)
    t.close(sp)
    by_span, lost = tr.attribute(t.spans, [tr.Job(0, 10.000, 10.5)])
    assert not lost and by_span[sp.sid][0].jid == 0


def test_install_wraps_module_and_from_import_attributes(tmp_path, monkeypatch):
    pkg = tmp_path / "fakepkg"
    (pkg / "operators").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "operators" / "__init__.py").write_text("")
    (pkg / "operators" / "inner.py").write_text(textwrap.dedent("""
        def leaf(x):
            return x + 1

        def _private(x):
            return x
    """))
    (pkg / "outer.py").write_text(textwrap.dedent("""
        from .operators import inner
        from .operators.inner import leaf

        def top(x):
            return inner.leaf(x) + leaf(x)
    """))
    monkeypatch.syspath_prepend(str(tmp_path))
    import fakepkg.outer as outer

    t = tr.Tracer()
    restore = t.install("fakepkg", layers=("operators.inner", "outer"))
    try:
        assert outer.top(1) == 4
    finally:
        restore()
    names = [(s.name, s.depth) for s in t.spans]
    assert names == [("outer.top", 0), ("operators.inner.leaf", 1),
                     ("operators.inner.leaf", 1)]
    assert outer.leaf.__name__ == "leaf" and not hasattr(outer.leaf, "__wrapped__")
    assert not hasattr(sys.modules["fakepkg.operators.inner"]._private, "__wrapped__")


# -- generator -------------------------------------------------------------

def test_generator_is_deterministic_for_a_seed():
    a, b = gen.ingest_plan(7, 3, 100), gen.ingest_plan(7, 3, 100)
    assert a == b
    assert gen.ingest_plan(8, 3, 100).batches != a.batches
    va, vb = gen.vector_set(7, 200, 50, 20), gen.vector_set(7, 200, 50, 20)
    for f in ("base_ids", "base", "extra_ids", "extra", "queries"):
        assert np.array_equal(getattr(va, f), getattr(vb, f))
    assert not np.array_equal(gen.vector_set(8, 200, 50, 20).base, va.base)


def test_ingest_plan_ground_truth():
    plan = gen.ingest_plan(3, 4, 200, copy_frac=0.05, n_retract=10)
    ids = [i for b in plan.batches for i, _ in b]
    assert len(ids) == len(set(ids)) == 800
    text = {i: x for b in plan.batches for i, x in b}
    batch_of = {i: n for n, b in enumerate(plan.batches) for i, _ in b}
    for kind, m in plan.planted.items():
        assert len(m) == 3 * 10
        for copy, orig in m.items():
            assert batch_of[orig] < batch_of[copy] and orig in plan.fresh
            if kind == "exact":
                assert text[copy] != text[orig]
                assert " ".join(text[copy].split()) == text[orig]
            if kind == "semantic":
                assert sorted(text[copy].split()) == sorted(text[orig].split())
    assert len(plan.retract) == 10
    copied = {o for m in plan.planted.values() for o in m.values()}
    assert all(batch_of[i] == 0 and i not in copied for i in plan.retract)
    # every generated doc passes the default quality gate's length band
    assert min(len(x) for x in text.values()) >= 500


def test_brute_top_k_matches_full_sort():
    v = gen.vector_set(1, 300, 0, 5)
    got = gen.brute_top_k(v.base_ids, v.base, v.queries, k=10)
    for q, row in zip(v.queries, got):
        sims = v.base @ q
        want = v.base_ids[np.argsort(-sims, kind="stable")[:10]]
        assert list(row) == list(want)


def test_tree_cpu_counts_a_reaped_child():
    before = sparkstats.tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert sparkstats.tree_cpu_s() - before >= 0.25
