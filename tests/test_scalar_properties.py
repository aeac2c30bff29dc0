"""Property/metamorphic tests (SURVEY.md §5.3): closed forms vs the
reference's loop semantics, codec round-trips, numbering density."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pulfa_sausage_factory_spark.functions import scalars


def _ref_floor100(x: int) -> int:
    """Reference P7 (bin/main.py:302-305): round(x,-2), minus 100 if it
    rounded up."""
    r = round(x, -2)
    return r - 100 if r > x else r


def _ref_jp2_levels(size: int) -> int:
    """Reference P8 (bin/main.py:377-383): count halvings while >= 96."""
    levels = 0
    while size >= 96:
        size = size // 2
        levels += 1
    return levels


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=100_000), min_size=1, max_size=50))
def test_floor100_closed_form(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], ["x"])
    got = [r.y for r in df.select(scalars.floor_to_100("x").alias("y")).collect()]
    assert got == [_ref_floor100(x) for x in xs]


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=1_000_000), min_size=1, max_size=50))
def test_jp2_levels_closed_form(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], ["x"])
    got = [r.y for r in df.select(scalars.jp2_levels("x").alias("y")).collect()]
    assert got == [_ref_jp2_levels(x) for x in xs]


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.from_regex(r"[A-Z]{2}[0-9]{3}_c[0-9]{4}", fullmatch=True),
        min_size=1,
        max_size=20,
    )
)
def test_id_path_roundtrip(spark, ids):
    """P4: id→path→id is the identity (bin/main.py:179 ↔ publish.rb:126)."""
    df = spark.createDataFrame([(i,) for i in ids], ["host_c_id"])
    out = df.select(
        scalars.path_to_id(scalars.id_to_path("host_c_id")).alias("back"),
        "host_c_id",
    )
    assert all(r.back == r.host_c_id for r in out.collect())


def test_idx_suffix(spark):
    df = spark.createDataFrame([("a", 0), ("b", 1), ("c", 3)], ["base", "idx"])
    got = [r.y for r in df.select(scalars.idx_suffix("base", "idx").alias("y")).collect()]
    assert got == ["a", "b_1", "c_3"]  # suffix only when idx > 0 (main.py:180)


def test_page_numbering_dense_and_sorted(spark):
    """W1/P5: numbering is dense, gap-free, and %08d-sorts in page order."""
    from pulfa_sausage_factory_spark.operators import relational

    rows = [("d1", f"p{i}") for i in range(13)] + [("d2", f"p{i}") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc", "path"])
    w = relational.sibling_window("doc", order_col="path")
    out = df.select(
        "doc", "path", scalars.zero_pad8(relational.ordinal(w)).alias("label")
    )
    for doc, n in (("d1", 13), ("d2", 5)):
        labels = sorted(r.label for r in out.filter(F.col("doc") == doc).collect())
        assert labels == [f"{i:08d}" for i in range(1, n + 1)]


def test_normalize_and_escape(spark):
    df = spark.createDataFrame([('  a  \t b\n"c" \'d\'  ',)], ["t"])
    got = df.select(
        scalars.escape_quotes(scalars.normalize_whitespace("t")).alias("y")
    ).collect()[0].y
    assert got == "a b &quot;c&quot; &apos;d&apos;"


def test_label_or_default(spark):
    df = spark.createDataFrame([("x",), ("",), (None,)], ["title"])
    got = [r.y for r in df.select(scalars.label_or_default("title").alias("y")).collect()]
    assert got == ["x", "[No title]", "[No title]"]


def test_strip_double_quotes(spark):
    """P2 variant (bin/publish.rb:81, ``gsub('"', '')``): every double
    quote goes; single quotes, other text and NULL pass through."""
    df = spark.createDataFrame(
        [('say "hi" to \'o\'',), ('""',), ("none",), (None,)], ["t"]
    )
    for col in ("t", F.col("t")):
        got = [r.y for r in df.select(
            scalars.strip_double_quotes(col).alias("y")
        ).collect()]
        assert got == ["say hi to 'o'", "", "none", None]


def test_utc_stamp_is_the_reference_format(spark):
    """P12 (bin/dao.py:19-20,186): the reference stamps ``created`` with
    ``utcnow().strftime('%Y-%m-%dT%H:%M:%SZ')`` — UTC wall clock, whole
    seconds. The port formats in the session time zone, which the
    session pins to UTC."""
    import datetime as dt
    import re

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    before = dt.datetime.now(dt.timezone.utc).replace(microsecond=0)
    got = spark.range(1).select(scalars.utc_stamp().alias("s")).first().s
    after = dt.datetime.now(dt.timezone.utc)
    assert re.fullmatch(r"\d{4}-\d\d-\d\dT\d\d:\d\d:\d\dZ", got), got
    stamp = dt.datetime.strptime(got, "%Y-%m-%dT%H:%M:%SZ").replace(
        tzinfo=dt.timezone.utc
    )
    assert before <= stamp <= after


def test_rolling_hash_matches_python_reference(spark):
    """X4d: the JVM fold equals the obvious python loop, char for char."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pulfa_sausage_factory_spark.functions.text import rolling_hash

    samples = []

    @settings(max_examples=30, deadline=None)
    @given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=80))
    def collect(s):
        samples.append(s)

    collect()
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i long, s string")
    got = {r.i: r.h for r in df.select("i", rolling_hash("s").alias("h")).collect()}

    def ref(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % 2_147_483_648
        return h

    for i, s in enumerate(samples):
        assert got[i] == ref(s), repr(s)


def test_sniff_never_raises_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pulfa_sausage_factory_spark.operators.multimodal import sniff_image_meta

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=64))
    def check(b):
        mime, w, h = sniff_image_meta(b)
        assert isinstance(mime, str)

    check()


def test_bpe_tokens_partition_single_spaced_text(spark):
    """The RE2-safe BPE pattern tiles single-spaced text exactly: token
    concatenation reconstructs the lowercased input (no char lost)."""
    from pulfa_sausage_factory_spark.functions.text import bpe_tokens

    rows = [
        ("Hello world, 42 times!",),
        ("a1b2c3 -- mixed: runs&runs",),
        ("singleword",),
    ]
    df = spark.createDataFrame(rows, ["t"])
    out = df.select(F.array_join(bpe_tokens("t"), "").alias("j"), F.lower("t").alias("l")).collect()
    for r in out:
        assert r.j == r.l


def test_quality_score_bounded(spark, sf_dir):
    from pulfa_sausage_factory_spark.functions.text import quality_score
    from pulfa_sausage_factory_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    mm = docs.select(
        F.min(quality_score("text")).alias("lo"),
        F.max(quality_score("text")).alias("hi"),
    ).first()
    assert 0.0 <= mm.lo <= mm.hi <= 1.0


def test_bpe_token_count_matches_size_of_tokens(spark, sf_dir):
    """Round-14 pin: ``bpe_token_count`` (regexp_count, no array
    materialization) ≡ ``size(bpe_tokens)`` on real corpus text plus
    NULL/empty/whitespace edges — the packing stage budgets by it."""
    from pyspark.sql import functions as F

    from pulfa_sausage_factory_spark.functions.text import (
        bpe_token_count,
        bpe_tokens,
    )
    from pulfa_sausage_factory_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("text").limit(500)
    crafted = spark.createDataFrame(
        [("",), ("   ",), ("one",), ("Hello, world! 42x",), (None,)],
        "text string",
    )
    df = docs.unionByName(crafted)
    bad = df.filter(
        ~(
            F.size(bpe_tokens("text")).eqNullSafe(bpe_token_count("text"))
            # size(NULL array) is -1 under the session default; the count
            # twin returns NULL — both feed post-clean non-null text only
            | (F.col("text").isNull())
        )
    ).count()
    assert bad == 0
