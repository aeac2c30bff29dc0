"""Text-analysis column helpers (SURVEY.md §2.l X4; A2/A3 word counting).

All JVM-side built-ins — tokenization is ``split``, counting is ``size``/
``aggregate``; no Python in the hot path. These run per-row, so they scale
linearly and shuffle nothing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram-free language-ID heuristic
#: (X4). Deterministic and oracle-expressible (the same lists are inlined in
#: the DuckDB oracle SQL).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "une", "du"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "im", "ein"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (A2's ``wc -w``; orient_image.sh:55-60)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def word_count(col: Column | str) -> Column:
    """A2 — word count of a text column."""
    return F.size(tokens(col))


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang`` (language-ID signal)."""
    t = tokens(col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(t, lambda w: F.array_contains(sw, F.lower(w))))


def langid_expr(col: Column | str) -> Column:
    """X4 — heuristic language ID: argmax over per-language stopword hits,
    ties broken by language code order (deterministic)."""
    scored = F.array(
        *[
            F.struct(stopword_hits(col, lang).alias("hits"), F.lit(lang).alias("lang"))
            for lang in sorted(STOPWORDS)
        ]
    )
    # array_max on struct compares field-by-field: (hits, lang) — max hits,
    # then lexicographically-last lang; invert lang for deterministic
    # first-lang tie-break by sorting on (hits desc, lang asc) via sort_array.
    best = F.sort_array(scored, asc=False)[0]
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def rolling_hash(col: Column | str, mod: int = 2_147_483_648, base: int = 31) -> Column:
    """X4 — full-document rolling polynomial hash over character codes:
    ``h = fold(h*base + code(c)) % mod``. Stays JVM-side (one ``aggregate``
    fold, no UDF); ``mod`` = 2^31 keeps every intermediate < 2^36, safely
    inside a long under ANSI mode. Character codes via ``ascii`` match
    DuckDB's ``ord`` on the corpus (single-codepoint semantics), so a
    ``list_reduce`` oracle reproduces the value exactly."""
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * base + x) % mod,
    )


#: BPE-ish pre-tokenization pattern (GPT-2 family shape, simplified to the
#: RE2-compatible subset so the DuckDB oracle runs the identical regex:
#: no lookahead): word runs, digit runs, punctuation runs, each optionally
#: absorbing one leading space.
BPE_PATTERN = r" ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"


def bpe_tokens(col: Column | str) -> Column:
    """X4 — BPE-style pre-tokens of the lowercased text (the token-count
    basis an LLM-data pipeline budgets by)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_PATTERN), 0)


def bpe_token_count(col: Column | str) -> Column:
    """``size(bpe_tokens(c))`` without materializing the token-string
    array (round 14, guide §2.3 — the packing path only needs the COUNT;
    ``regexp_count`` runs the same regex scan but allocates no matches).
    Pinned ≡ ``size(bpe_tokens(c))`` by test."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(BPE_PATTERN))


def quality_score(col: Column | str) -> Column:
    """X4 — composite document quality in [0,1]: length band + low
    punctuation density + word-length sanity. Deterministic closed form
    (each factor a bounded ratio), reproducible in ANSI SQL."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_words = F.size(F.split(F.trim(c), r"\s+"))
    # count-only twin of `n_chars - length(regexp_replace(c, pat, ""))`
    # (round 15, guide §2.3 / the r14 bpe_token_count pattern): every
    # match is exactly one char, so the match COUNT equals the chars the
    # replace would have removed — identical value, no rebuilt string
    # per row. The DuckDB oracle keeps the replace form; values agree.
    n_punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    len_factor = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    punct_factor = F.lit(1.0) - F.least(
        n_punct.cast("double") / F.greatest(n_words, F.lit(1)).cast("double"),
        F.lit(1.0),
    )
    avg_word = n_chars.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    word_factor = F.when((avg_word >= 3.0) & (avg_word <= 12.0), 1.0).otherwise(0.5)
    return F.round((len_factor + punct_factor + word_factor) / F.lit(3.0), 6)


def dup_segment_fraction(col: Column | str, sep: str = r"\. ") -> Column:
    """X4 repetition signal (Gopher-style duplicate-line fraction, adapted
    to sentence segments): 1 − distinct segments / total segments. High
    values flag boilerplate/spam documents. Pure column expression,
    codegen'd."""
    c = F.col(col) if isinstance(col, str) else col
    segs = F.split(c, sep)
    return F.lit(1.0) - (
        F.size(F.array_distinct(segs)).cast("double")
        / F.size(segs).cast("double")
    )


def top_ngram_stats_df(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
):
    """X4 repetition signal (Gopher's top-n-gram fraction): per document,
    the count of the most frequent word n-gram and its share of all
    n-grams. Repetitive machine-generated text scores high.

    Spark-first shape: explode n-grams → two-level aggregation (map-side
    partial combine on (doc, gram), then per-doc max/sum) — distributed in
    the corpus AND in document length, unlike a per-row O(tokens·distinct)
    higher-order-function scan (HOF lambdas run interpreted; see the
    winnowing note below). Docs with fewer than ``n`` tokens produce no
    n-grams and are absent from the output (callers left-join + coalesce).
    """
    t = F.split(F.lower(F.col(text_col)), " ")
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0] and
    # element_at(t, 0) is an error under ANSI — short docs get no grams
    idx = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, i + off) for off in range(n)]
        ),
    )
    exploded = df.select(F.col(id_col), F.explode(grams).alias("gram"))
    counts = exploded.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy(id_col).agg(
        F.max("c").alias("top_ngram_count"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "top_ngram_frac"
        ),
    )


def winnow_fingerprints_df(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    mod: int = 2_147_483_648,
    base: int = 31,
    impl: str = "expr",
):
    """X4 — winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every k-gram of characters (polynomial rolling hash, same char
    fold as ``rolling_hash``), slide a window of ``w`` consecutive k-gram
    hashes, keep each window's minimum. Guarantees any shared substring of
    length >= w+k-1 contributes a shared fingerprint — the matching bound
    plagiarism/near-dup detectors rely on.

    Returns exploded rows ``(id_col, fp)``, distinct per document.

    ``impl`` follows the hot-path-twin convention (round 4): ``"expr"``
    (default — the oracle mode every driver-registered query keeps) is the
    relational formulation below; ``"arrow"`` computes each document's
    distinct fingerprint set in one vectorized numpy pass (k shifted
    adds for the rolling hashes, a stride-tricks sliding min for the
    winnow) — a NARROW map-side op: no per-char explode (the expr plan
    materializes one row per character), no doc-id shuffle, no window
    exchange, and the trailing global ``.distinct()`` collapses to a
    per-doc ``np.unique``. Both impls produce identical (id, fp) sets
    (pinned by test); round-14 measurement: the sf0.1 ledger operating
    point (k=16, w=8) dropped ~4×. Use arrow on the per-batch ingest
    path; keep expr wherever a DuckDB oracle replays the plan.

    Expr formulation — posexplode chars, window ``collect_list`` for
    the k-gram, window ``min`` for the winnow — NOT nested array lambdas:
    Catalyst's CollapseProject inlines projection aliases back into
    higher-order-function lambdas, and interpreted HOF lambdas re-evaluate
    the inlined expression per element, turning the array version into
    O(n²·k) per document (measured: minutes vs. seconds at sf0.01).
    Window operators are physical boundaries, immune to that inlining; the
    only shuffle is one hash-partition on the document id shared by both
    window specs."""
    from pyspark.sql import Window

    if impl == "arrow":
        return _winnow_fingerprints_arrow(df, text_col, id_col, k, w, mod, base)
    if impl != "expr":
        raise ValueError(f"impl must be 'expr' or 'arrow', got {impl!r}")

    chars = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "")).alias("pos", "ch"),
    ).select(id_col, "pos", F.ascii("ch").cast("long").alias("code"))

    wk = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, k - 1)
    kgrams = (
        chars.withColumn("_gram", F.collect_list("code").over(wk))
        .filter(F.size("_gram") == k)
        .select(
            id_col,
            "pos",
            F.aggregate(
                "_gram", F.lit(0).cast("long"), lambda acc, x: (acc * base + x) % mod
            ).alias("h"),
        )
    )
    ww = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    mins = (
        kgrams.withColumn("_fp", F.min("h").over(ww))
        .withColumn("_full", F.count("h").over(ww))
        .filter(F.col("_full") == w)
    )
    return mins.select(id_col, F.col("_fp").alias("fp")).distinct()


def _winnow_fingerprints_arrow(df, text_col, id_col, k, w, mod, base):
    """``winnow_fingerprints_df(impl="arrow")`` body: one Arrow-batched
    numpy pass per partition computing each document's DISTINCT winnowed
    fingerprints as an array, then a generator explode — no per-char rows,
    no shuffle anywhere (the expr twin pays one doc-id hash partition plus
    two window passes over one row PER CHARACTER).

    Bit-identical to the expr plan by construction: character codes are
    Python ``ord`` (== Spark ``ascii``'s first-codepoint semantics on
    single-char splits), the k-gram hash folds ``(acc·base + code) % mod``
    in the same order (k vectorized shifted-add rounds ≡ the expr
    ``aggregate`` fold — integer arithmetic, no rounding), and the winnow
    is an exact sliding min. int64 bounds: every intermediate is
    ``< mod·base + max_codepoint``, guarded below.

    Same visibility contract as the expr plan: docs shorter than
    ``k + w - 1`` chars (no full window) and NULL text produce no rows.

    Known divergence (documented, not reachable on the pipeline path):
    non-BMP codepoints — Java's ``split("")`` yields two surrogate halves
    where Python yields one codepoint, so a text containing astral chars
    fingerprints differently between the twins. The ingest clean stage
    strips controls and normalizes before winnowing; the equality test
    pins the twins on real corpus text.
    """
    import numpy as np
    import pandas as pd

    if mod * base + 0x110000 >= 1 << 63:
        raise ValueError(
            f"mod={mod} too large for the int64 fast path (need "
            f"mod*base + 0x110000 < 2^63); use impl='expr'"
        )
    min_chars = k + w - 1

    def fps(texts):
        out = []
        for t in texts:
            s = t or ""
            n = len(s)
            if n < min_chars:
                out.append([])
                continue
            codes = np.fromiter(map(ord, s), dtype=np.int64, count=n)
            n_grams = n - k + 1
            h = np.zeros(n_grams, dtype=np.int64)
            for j in range(k):
                h = (h * base + codes[j : j + n_grams]) % mod
            wins = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
            out.append(np.unique(wins))
        return pd.Series(out)

    fps.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(fps, "array<long>")
    # re-spread pathologically under-partitioned inputs (single-row-group
    # parquet scans are unsplittable — the whole pass would run one task);
    # lazy import: operators.dedup must stay importable without functions.*
    from ..operators.dedup import spread_for_arrow

    # min_bytes below the spread_for_arrow default: winnowing does k
    # rolling-hash rounds PER CHARACTER plus a sliding min — an order of
    # magnitude more compute per input byte than the signature passes the
    # 256 KiB floor was tuned for (measured at sf0.1: the 250 KB docs
    # estimate sat 2% under the default floor and the whole pass ran one
    # task at 1.9 s; spread over 32 it runs 1.2 s under load and ~4x
    # better idle). Tiny oracle-scale inputs (~25 KB at sf0.01) still
    # stay un-spread.
    return spread_for_arrow(df.select(id_col, text_col), min_bytes=64 << 10).select(
        F.col(id_col), F.explode(udf(F.col(text_col))).alias("fp")
    )


def suggest_overlap_config(
    span_chars: int = 600,
    *,
    total_chars: int | None = None,
    target_state_rows: int | None = None,
    k: int = 16,
    w: int = 8,
    min_shared: int = 4,
) -> dict:
    """Sizing arithmetic for the overlap ledger's sampling knobs (the
    ``suggest_ann_config`` pattern applied to substring-overlap dedup —
    round-10 VERDICT item 4). Winnowing keeps ~2/(w+1) fingerprints per
    char (Schleimer et al.'s density bound) and the ledger mod-samples
    them, so at ``sample_mod = m`` a shared span of L chars yields
    ~``2L/((w+1)·m)`` sampled fingerprints in expectation and the fps
    state costs ~1 row per ``m·(w+1)/2`` chars of admitted text.

    Given the shortest lift the deployment must catch (``span_chars``),
    pick the coarsest mod whose EXPECTED shared-fp count over that span
    is ``2·min_shared`` — a 2× margin over the decision threshold,
    because at exactly-the-expectation the catch rate is a coin flip
    per doc (measured: 63% of 600-char lifts at the zero-margin
    operating point, OVERLAP.md). With a state budget
    (``total_chars`` + ``target_state_rows``), the mod is RAISED to fit
    the budget and the resulting (weaker) detection floor is reported —
    budget wins because an over-budget state dir fails operationally
    while a coarser floor is a documented trade.

    Mods are powers of two so a deployment that later coarsens its mod
    keeps nested sampling (every fp kept at 2m was kept at m — old
    state rows still match new probes at the coarser density).

    Returns ``sample_mod`` plus the claims a user needs to verify the
    choice: ``span_reliable_chars`` (expected 2·min_shared fps — the
    documented-floor operating regime), ``span_expectation_chars``
    (expected exactly min_shared — flips to coin-flip catching below
    this), ``fp_state_rows_per_char``, and ``state_rows`` when
    ``total_chars`` was given."""
    if span_chars < k + w - 1:
        raise ValueError(
            f"span_chars={span_chars} is below the winnowing matching "
            f"bound k+w-1={k + w - 1} — no fingerprint scheme at this "
            "k/w can see spans that short"
        )
    # m such that 2·span/((w+1)·m) == 2·min_shared, floored to a power of
    # two (floor: rounding the mod DOWN keeps the margin >= 2×)
    raw = max(1, span_chars // (min_shared * (w + 1)))
    mod = 1 << (raw.bit_length() - 1)
    if target_state_rows is not None:
        if total_chars is None:
            raise ValueError("target_state_rows needs total_chars")
        # state rows ~= 2·total_chars/((w+1)·m)  →  m for the budget,
        # ceiled to a power of two (ceil: stay UNDER the row budget)
        need = max(1, -(-2 * total_chars // ((w + 1) * target_state_rows)))
        budget_mod = 1 << max(0, (need - 1).bit_length())
        mod = max(mod, budget_mod)
    out = {
        "sample_mod": mod,
        "min_shared": min_shared,
        "k": k,
        "w": w,
        "fp_state_rows_per_char": 2.0 / ((w + 1) * mod),
        "span_reliable_chars": mod * min_shared * (w + 1),
        "span_expectation_chars": mod * min_shared * (w + 1) // 2,
    }
    if total_chars is not None:
        out["state_rows"] = int(total_chars * 2 / ((w + 1) * mod))
    return out


# ---------------------------------------------------------------------------
# X4h — PII scrubbing (training-data hygiene: redact before training).
# RE2-safe patterns (no lookaround) so the DuckDB oracle runs the identical
# regex; Spark's regexp_replace is replace-all, DuckDB needs the 'g' flag.
# ---------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,2} \([0-9]{3}\) [0-9]{3}-[0-9]{4}"


def collapse_repeated_lines(col: Column | str, sep: str = "\n") -> Column:
    """Within-document repeated-line removal (the doc-local half of C4-style
    line dedup; the corpus-level half is ``dedup.dedup_corpus_lines``):
    keep each distinct line's FIRST occurrence, preserving order.
    ``array_distinct`` keeps first-occurrence order by contract, so this is
    a pure per-row expression — no shuffle, no UDF, scales as a map stage."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.array_distinct(F.split(c, sep)), sep)


def count_matches(col: Column | str, pattern: str) -> Column:
    """Occurrences of ``pattern`` (regexp_extract_all + size — JVM-side)."""
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def redact_pii(col: Column | str) -> Column:
    """Replace every email / phone match with a typed placeholder token.
    Order matters: emails first so a phone regex can never bite into a
    local-part digit run."""
    scrubbed = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(scrubbed, PHONE_RE, "<PHONE>")


# ---------------------------------------------------------------------------
# X9 — URL canonicalization (crawl dedup: the same page arrives under many
# syntactic spellings; normalize before URL-level dedup).
# ---------------------------------------------------------------------------


def normalize_url(col: Column | str) -> Column:
    """Canonical URL form, all JVM-side string ops:

    - scheme + host lowercased (path/query case-preserved)
    - default ports ``:80`` (http) / ``:443`` (https) dropped
    - ``#fragment`` dropped
    - ``utm_*`` tracking params dropped; surviving params sorted bytewise
    - trailing ``?`` / lone trailing ``/`` on a bare host dropped
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"#.*$", "")  # fragment
    # scheme://host[:port] → lowercase; capture rest
    head = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1))
    rest = F.regexp_replace(c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    head = F.regexp_replace(head, r"^(http://[^/?#]*):80$", "$1")
    head = F.regexp_replace(head, r"^(https://[^/?#]*):443$", "$1")
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    qs = F.regexp_extract(rest, r"\?(.*)$", 1)
    params = F.filter(
        F.split(qs, "&"),
        lambda p: (p != "") & ~p.startswith("utm_"),
    )
    canon_qs = F.array_join(F.array_sort(params), "&")
    out = F.concat(
        head,
        path,
        F.when(canon_qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), canon_qs)),
    )
    return F.regexp_replace(out, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)/$", "$1")


def _merge_pair_udf(a: str, b: str):
    """Arrow-batched application of ONE BPE merge to a symbol-array column:
    every adjacent (a, b) becomes a+b, greedy left-to-right (the Sennrich
    merge rule). Python because sequential adjacency rewriting is not
    expressible with higher-order functions (a merge changes the
    neighbors of what follows); runs over the word DICTIONARY, not the
    corpus, so the batch volume is vocabulary-sized."""
    import pandas as pd

    merged = a + b

    def apply(s):
        out = []
        for syms in s:
            res = []
            i, n = 0, len(syms)
            while i < n:
                if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                    res.append(merged)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            out.append(res)
        return pd.Series(out)

    apply.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(apply, "array<string>")


def bpe_train_merges(
    df,
    text_col: str = "text",
    num_merges: int = 50,
    min_pair_count: int = 2,
    word_sample_fraction: float = 1.0,
):
    """X4 follow-through — corpus-scale BPE merge training (Sennrich-style
    vocabulary induction), the step that turns ``bpe_tokens``'s fixed
    pre-tokenizer into a corpus-fitted vocabulary.

    Scale shape: the ONLY corpus-sized operation is the word-frequency
    aggregation (one shuffle keyed on the word; the dictionary is orders of
    magnitude smaller than the corpus). Every merge round then runs over
    the dictionary alone: adjacent-pair counts weighted by word frequency
    (overlapping occurrences counted, the classic rule), the arg-max pair
    via ``orderBy().limit(1)`` (TakeOrdered — no global sort), merge
    application as an Arrow-batched UDF, and per-round ``localCheckpoint``
    lineage truncation with eager release of the superseded round — the
    same idiom as ``dedup_clusters``; without it the plan and pinned
    storage grow linearly in ``num_merges``.

    Ties break deterministically: highest count, then lexicographically
    smallest (a, b) — mirrored by the reference model in the tests.

    Practical cap: each merge round is one Spark job plus a bounded 1-row
    collect, so driver round-trips scale linearly with ``num_merges`` —
    fine for the hundreds-to-low-thousands of merges a tokenizer needs, but
    vocabulary induction at 100 TB does NOT need the full corpus: set
    ``word_sample_fraction`` to train on a deterministic hash-bucket sample
    of the word *dictionary* (frequencies are already aggregated, so a 1-10%
    word sample preserves the high-frequency pairs that drive early merges;
    sampling is retry-stable — same words every run).

    Returns ``(merges, vocab_df)``: the ordered merge list and the final
    ``(syms, freq)`` dictionary DataFrame.
    """
    from ..session import release_local_checkpoint
    from .sampling import deterministic_sample

    words = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if word_sample_fraction < 1.0:
        words = deterministic_sample(words, "word", word_sample_fraction)
    syms = words.select(
        F.split("word", "").alias("syms"), "freq"
    ).localCheckpoint()

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        top = (
            syms.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at("syms", i).alias("a"),
                            F.element_at("syms", i + 1).alias("b"),
                        ),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_pair_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        new_syms = syms.withColumn(
            "syms", _merge_pair_udf(a, b)(F.col("syms"))
        ).localCheckpoint()
        release_local_checkpoint(syms)
        syms = new_syms
    return merges, syms


def bpe_vocab(df, merges, text_col: str = "text") -> dict[str, int]:
    """Symbol → id table for ``bpe_encode``: the corpus base alphabet
    (sorted, ids 0..n-1) followed by each merge's output symbol in merge
    order. The alphabet scan is one distinct over exploded characters — a
    tiny aggregate (alphabet-sized result) even at corpus scale."""
    chars = (
        df.select(
            F.explode(
                F.split(F.array_join(tokens(F.lower(F.col(text_col))), ""), "")
            ).alias("ch")
        )
        .filter(F.length("ch") > 0)
        .distinct()
        .collect()
    )
    vocab = {c: i for i, c in enumerate(sorted(r.ch for r in chars))}
    for a, b in merges:
        sym = a + b
        if sym not in vocab:
            vocab[sym] = len(vocab)
    return vocab


def bpe_encode(
    df,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    text_col: str = "text",
    out_col: str = "token_ids",
):
    """Apply a trained BPE vocabulary: text → ``array<int>`` token ids.
    Completes the tokenizer loop (``bpe_train_merges`` → encode →
    ``sampling.pack_greedy`` on exact token counts).

    Encoding is the classic ranked-merge algorithm: split each word to
    characters, repeatedly apply the lowest-rank applicable merge until
    none applies — which reproduces, for every word, exactly the symbol
    sequence the training loop left in its dictionary (pinned by test).
    Symbols outside ``vocab`` (unseen characters) map to -1.

    Scale shape: embarrassingly parallel, Arrow-batched ``pandas_udf`` —
    Python is unavoidable here (per-word loop with data-dependent control
    flow, the same hot loop every production tokenizer runs native); the
    merge table rides a broadcast variable, and a per-batch word cache
    exploits the Zipfian word distribution (each distinct word is encoded
    once per batch, not once per occurrence)."""
    import re

    import pandas as pd

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    bc = df.sparkSession.sparkContext.broadcast((ranks, dict(vocab)))
    # mirror tokens()'s Java \s split: ASCII whitespace only
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def encode(s):
        rk, vb = bc.value
        cache: dict[str, list[int]] = {}

        def word_ids(word: str) -> list[int]:
            got = cache.get(word)
            if got is None:
                syms = list(word)
                while len(syms) >= 2:
                    best = None
                    for i in range(len(syms) - 1):
                        r = rk.get((syms[i], syms[i + 1]))
                        if r is not None and (best is None or r < best):
                            best = r
                    if best is None:
                        break
                    a, b = merges_local[best]
                    out, i = [], 0
                    while i < len(syms):
                        if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                            out.append(a + b)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    syms = out
                got = cache[word] = [vb.get(x, -1) for x in syms]
            return got

        merges_local = [None] * len(rk)
        for pair, r in rk.items():
            merges_local[r] = pair
        out = []
        for t in s:
            ids: list[int] = []
            for w in ws.split((t or "").lower()):
                if w:
                    ids.extend(word_ids(w))
            out.append(ids)
        return pd.Series(out)

    encode.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return df.withColumn(out_col, F.pandas_udf(encode, "array<int>")(F.col(text_col)))


def gopher_rules(
    col: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> Column:
    """X4 — the Gopher quality-filter rule set (Rae et al. 2021, App. A),
    as one struct of named boolean gates plus the conjunction:

    ``struct(word_count_ok, mean_word_len_ok, symbol_ratio_ok,
    bullet_lines_ok, ellipsis_lines_ok, alpha_words_ok, stopwords_ok,
    pass)`` — per-rule booleans survive into the run report so a corpus
    audit can see WHICH rule dominates rejections, not just how many.

    Every rule is a pure column expression (counts and ratios over the
    token/line splits — codegen'd, zero UDFs, no shuffle); thresholds are
    the published defaults, overridable per corpus.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.filter(F.split(c, r"\s+"), lambda w: F.length(w) > 0)
    n_words = F.size(toks)
    safe_words = F.greatest(n_words, F.lit(1)).cast("double")
    # total non-whitespace chars / words — whole-stage-codegen form of the
    # per-token length fold (no HOF re-evaluation); count-only form
    # (round 15): chars-minus-whitespace-count ≡ length of the stripped
    # string, without materializing it per row
    n_chars_in_words = F.length(c) - F.regexp_count(c, F.lit(r"\s"))
    mean_word_len = n_chars_in_words.cast("double") / safe_words
    n_symbols = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\."), 0))
    lines = F.split(c, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*([-*•]|\d+[.)])\s"))
    )
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-zA-Z]")))
    sw_hits = stopword_hits(c, "en")

    word_count_ok = (n_words >= min_words) & (n_words <= max_words)
    mean_word_len_ok = (mean_word_len >= min_mean_word_len) & (
        mean_word_len <= max_mean_word_len
    )
    symbol_ratio_ok = n_symbols.cast("double") / safe_words <= max_symbol_ratio
    bullet_lines_ok = bullet_lines.cast("double") / n_lines <= max_bullet_line_frac
    ellipsis_lines_ok = (
        ellipsis_lines.cast("double") / n_lines <= max_ellipsis_line_frac
    )
    alpha_words_ok = alpha_words.cast("double") / safe_words >= min_alpha_word_frac
    stopwords_ok = sw_hits >= min_stopword_hits
    return F.struct(
        word_count_ok.alias("word_count_ok"),
        mean_word_len_ok.alias("mean_word_len_ok"),
        symbol_ratio_ok.alias("symbol_ratio_ok"),
        bullet_lines_ok.alias("bullet_lines_ok"),
        ellipsis_lines_ok.alias("ellipsis_lines_ok"),
        alpha_words_ok.alias("alpha_words_ok"),
        stopwords_ok.alias("stopwords_ok"),
        (
            word_count_ok
            & mean_word_len_ok
            & symbol_ratio_ok
            & bullet_lines_ok
            & ellipsis_lines_ok
            & alpha_words_ok
            & stopwords_ok
        ).alias("pass"),
    )


#: Gopher repetition thresholds (Rae et al. 2021, Table A1): signal → max
#: allowed value. dup_* are duplicate line/paragraph occurrence and
#: character fractions; top{n}_char is the most-frequent-n-gram char share;
#: dupn{n}_char is the char mass covered by duplicated n-gram windows.
GOPHER_REPETITION_MAX = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top2_char_frac": 0.20,
    "top3_char_frac": 0.18,
    "top4_char_frac": 0.16,
    "dup5_char_frac": 0.15,
    "dup6_char_frac": 0.14,
    "dup7_char_frac": 0.13,
    "dup8_char_frac": 0.12,
    "dup9_char_frac": 0.11,
    "dup10_char_frac": 0.10,
}


def repetition_signals(col: Column | str) -> Column:
    """X4 — the full Gopher repetition-signal family (Rae et al. 2021,
    Table A1) as one struct of 13 doubles per document.

    Every signal is WITHIN-document, so the scale-correct shape is a single
    Arrow-batched pandas UDF: one pass over the corpus, embarrassingly
    parallel, zero shuffles — per-doc Counters beat 13 separate
    explode+groupBy plans (each of which would reshuffle the token frame)
    and interpreted HOF lambdas alike.

    Definitions (documented because the paper leaves them loose):
    - lines = text.split("\\n"), paragraphs = split("\\n\\n"), blank
      segments dropped; ``dup_*_frac`` = occurrences beyond the first /
      total; ``dup_*_char_frac`` = the same, char-weighted.
    - tokens = lowercased whitespace split; char mass of a token/n-gram is
      its non-space character count.
    - ``top{n}_char_frac`` (n=2,3,4): count(most frequent n-gram) × its
      char mass / total token char mass (ties: lexicographically first).
    - ``dup{n}_char_frac`` (n=5..10): char mass of token POSITIONS covered
      by at least one n-gram window occurring more than once, / total —
      exact position coverage, not the over-counting occurrence sum.
    Empty/short docs yield 0.0 for signals they cannot express.
    """
    import pandas as pd

    def sigs(s):
        from collections import Counter

        out = []
        for t in s:
            t = t or ""
            row = {}
            for key, sep in (("line", "\n"), ("para", "\n\n")):
                segs = [x for x in (p.strip() for p in t.split(sep)) if x]
                total = len(segs)
                chars = sum(len(x) for x in segs)
                if total:
                    cnt = Counter(segs)
                    dup_occ = total - len(cnt)
                    dup_chars = chars - sum(len(x) for x in cnt)
                    row[f"dup_{key}_frac"] = dup_occ / total
                    row[f"dup_{key}_char_frac"] = (
                        dup_chars / chars if chars else 0.0
                    )
                else:
                    row[f"dup_{key}_frac"] = 0.0
                    row[f"dup_{key}_char_frac"] = 0.0
            toks = [w for w in t.lower().split() if w]
            lens = [len(w) for w in toks]
            total_chars = sum(lens)
            for n in (2, 3, 4):
                k = f"top{n}_char_frac"
                if len(toks) < n or not total_chars:
                    row[k] = 0.0
                    continue
                cnt = Counter(
                    tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
                best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
                row[k] = best[1] * sum(len(w) for w in best[0]) / total_chars
            for n in range(5, 11):
                k = f"dup{n}_char_frac"
                if len(toks) < n or not total_chars:
                    row[k] = 0.0
                    continue
                grams = [
                    tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
                ]
                cnt = Counter(grams)
                covered = [False] * len(toks)
                for i, g in enumerate(grams):
                    if cnt[g] > 1:
                        for p in range(i, i + n):
                            covered[p] = True
                row[k] = (
                    sum(l for l, c in zip(lens, covered) if c) / total_chars
                )
            out.append(row)
        return pd.DataFrame(out)

    import pandas as pd  # noqa: F811 — annotation objects for pandas_udf

    sigs.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    schema = ", ".join(f"{k} double" for k in GOPHER_REPETITION_MAX)
    c = F.col(col) if isinstance(col, str) else col
    return F.pandas_udf(sigs, schema)(c)


def repetition_rules(col: Column | str, overrides: dict | None = None) -> Column:
    """X4 — Gopher repetition gates: the 13 signals from
    :func:`repetition_signals` each compared against its Table-A1 maximum
    (overridable via ``overrides``), plus the conjunction, mirroring
    :func:`gopher_rules`' struct-of-named-gates shape:

    ``struct(<signal>_ok ×13, pass)`` — per-rule booleans survive into run
    reports so corpus audits see WHICH repetition class dominates."""
    limits = dict(GOPHER_REPETITION_MAX)
    if overrides:
        unknown = set(overrides) - set(limits)
        if unknown:
            raise ValueError(f"unknown repetition signals: {sorted(unknown)}")
        limits.update(overrides)
    sig = repetition_signals(col)
    gates = [
        (sig.getField(k) <= F.lit(v)).alias(f"{k}_ok") for k, v in limits.items()
    ]
    ok = None
    for k, v in limits.items():
        g = sig.getField(k) <= F.lit(v)
        ok = g if ok is None else (ok & g)
    return F.struct(*gates, ok.alias("pass"))


def normalize_unicode(col: Column | str, form: str = "NFC") -> Column:
    """X4h companion — Unicode normalization for the clean stage: apply
    ``unicodedata.normalize(form, ·)`` (NFC/NFKC/NFD/NFKD) and strip
    control characters (except \\t \\n \\r) and zero-width/BOM code points
    (ZWSP/ZWNJ/ZWJ/FEFF). Web-crawl text arrives in mixed compositions —
    without this, visually identical strings hash to different digests and
    exact dedup silently misses them (the same reason C4/CCNet normalize
    before fingerprinting).

    Spark has no built-in Unicode normalizer, so this is one Arrow-batched
    pandas pass (str.translate + unicodedata — no per-row Python UDF).
    """
    import unicodedata

    import pandas as pd

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"form must be NFC|NFKC|NFD|NFKD, got {form!r}")
    keep = {0x09, 0x0A, 0x0D}
    # Cc is exactly C0 (00-1F) + DEL + C1 (7F-9F); plus zero-width/BOM
    drop = {
        cp: None
        for cp in (*range(0x00, 0x20), *range(0x7F, 0xA0),
                   0x200B, 0x200C, 0x200D, 0xFEFF)
        if cp not in keep
    }

    def norm(s):
        # strip FIRST: a zero-width char between a base and its combining
        # mark blocks composition (ccc=0), so normalize-then-strip would
        # leave a decomposed sequence that still digests differently from
        # its composed twin — the exact miss this function exists to fix
        return s.map(
            lambda t: unicodedata.normalize(form, t.translate(drop))
            if t is not None
            else None
        )

    norm.__annotations__ = {"s": pd.Series, "return": pd.Series}
    c = F.col(col) if isinstance(col, str) else col
    return F.pandas_udf(norm, "string")(c)
