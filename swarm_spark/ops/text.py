"""Text-analysis operators for training-data pipelines.

All tokenization is a single regex split kept deliberately portable
(Spark ``split(text, ' +')`` == DuckDB ``regexp_split_to_array``), so
every operator here has an exact SQL oracle. Everything is pure
Catalyst expressions — no Python in the row path; at 100 TB these run
inside whole-stage codegen and scale linearly with input splits.

Operators:
- token counting (whitespace + BPE-ish subword estimate)
- language ID (marker-token n-gram heuristic)
- quality scoring (length / repetition / stopword ratios)
- document fingerprinting (min-hash of rolling word 5-grams —
  winnowing-style content fingerprint)
- repetition signals (Gopher-style top-n-gram / duplicate-token
  fractions for boilerplate and loop detection)
- PII scrubbing (regex redaction of emails / phones / IPv4 with
  per-class match counts)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT = " +"

# tiny deterministic marker profiles (n-gram heuristic stand-in; real
# fastText-style models plug into the same operator shape)
LANG_MARKERS = {
    "en": ("the", "a", "fast", "slow"),
    "de": ("der", "die", "und", "schnell"),
    "fr": ("le", "la", "et", "vite"),
    "es": ("el", "la", "y", "rapido"),
    "zh": ("的", "和", "快", "慢"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in")


def tokens_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, TOKEN_SPLIT)


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword-count estimate.

    The subword estimate is ``ceil(chars/4)`` summed per token — the
    standard "~4 chars per BPE token" heuristic, exactly reproducible
    in SQL (no tokenizer model needed).
    """
    ws = tokens_col(text_col)
    # counts are cast to long so schemas line up with SQL engines whose
    # len()/count() return 64-bit
    return df.select(
        F.col(id_col),
        F.size(ws).cast("long").alias("n_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
        F.aggregate(
            ws, F.lit(0).cast("long"), lambda acc, w: acc + F.ceil(F.length(w) / 4.0)
        ).alias("n_subwords"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct_tokens"),
    )


def language_scores_expr(text: Column | str) -> dict[str, Column]:
    """Per-language marker-token count expressions."""
    ws = tokens_col(text)

    def _in(markers):
        # single-arg lambda (a two-arg lambda would receive the index)
        return lambda w: w.isin(*markers)

    return {
        lang: F.size(F.filter(ws, _in(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def language_pred_expr(text: Column | str) -> Column:
    """Argmax language prediction as a plain column expression
    (deterministic tie-break by fixed language order; zero markers →
    'und') — use inside larger projections so Catalyst fuses language
    id into one scan with the rest of the pipeline's columns."""
    scores = language_scores_expr(text)
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best == 0, F.lit("und")).otherwise(pred)


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-token language scores + argmax prediction (deterministic
    tie-break by fixed language order)."""
    scores = language_scores_expr(text_col)
    out = [F.col(id_col)] + [
        scores[lang].cast("long").alias(f"score_{lang}") for lang in LANG_MARKERS
    ]
    return df.select(*out, language_pred_expr(text_col).alias("pred_lang"))


def quality_expr(text: Column | str) -> Column:
    """Quality score as a plain column expression (rounded to 6
    digits) — use this form inside larger projections so Catalyst
    fuses it into one scan with whatever else the pipeline computes."""
    ws = tokens_col(text)
    n = F.size(ws)
    nd = F.size(F.array_distinct(ws))
    nstop = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    return F.round(
        0.4 * F.least(n / 100.0, F.lit(1.0))
        + 0.3 * (nd / n)
        + 0.3 * F.least(nstop * 5.0 / n, F.lit(1.0)),
        6,
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / repetition / stopword heuristic quality in [0,1].

    score = 0.4·min(tokens/100,1) + 0.3·distinct_ratio
          + 0.3·min(stopword_ratio·5,1), rounded to 6 digits (integer
    inputs → the double arithmetic is order-free and engine-exact).
    """
    ws = tokens_col(text_col)
    n = F.size(ws)
    nd = F.size(F.array_distinct(ws))
    nstop = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        nd.cast("long").alias("n_distinct"),
        nstop.cast("long").alias("n_stop"),
        quality_expr(text_col).alias("quality"),
    )


def normalize_text(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical text form for normalized dedup/matching: lowercase,
    punctuation → space, whitespace collapsed + trimmed. Pure codegen
    expressions; the regexes are POSIX-class based so SQL engines
    normalize identically."""
    c = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), "[^a-z0-9\\s]", " "), "\\s+", " "
        )
    )
    return df.select(
        F.col(id_col),
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_hash"),
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al.,
    arXiv:2112.11446 §A1.1): the fraction of all word n-grams taken by
    the single most frequent n-gram, plus the duplicate-token fraction.
    High values flag boilerplate, keyword stuffing, and generation
    loops — the standard cut before training-corpus inclusion.

    Shape: explode positions → codegen'd n-gram projection →
    two-level aggregate. Both groupBys are map-side combined, and the
    second (by doc) operates on one row per distinct (doc, gram) —
    at 100 TB the shuffled bytes are a small multiple of the distinct-
    gram count, never of the corpus. Docs shorter than ``n`` tokens get
    NULL gram stats (no grams exist), mirrored exactly in the oracle.
    """
    ws = tokens_col(text_col)
    ids = df.select(
        F.col(id_col),
        F.size(ws).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct"),
    )
    base = df.select(F.col(id_col), ws.alias("ws")).where(F.size("ws") >= n)
    pos = base.select(
        id_col,
        "ws",
        F.explode(F.sequence(F.lit(1), F.size("ws") - (n - 1))).alias("i"),
    )
    grams = pos.select(
        id_col,
        F.concat_ws(
            " ", *[F.element_at("ws", F.col("i") + k) for k in range(n)]
        ).alias("g"),
    )
    agg = (
        grams.groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.max("c").cast("long").alias("top_gram_n"),
        )
    )
    return ids.join(agg, id_col, "left").select(
        id_col,
        "n_tokens",
        "n_grams",
        "top_gram_n",
        F.round(F.col("top_gram_n") / F.col("n_grams"), 6).alias("top_gram_frac"),
        F.round(1.0 - F.col("n_distinct") / F.col("n_tokens"), 6).alias(
            "dup_token_frac"
        ),
    )


# RE2-compatible (no backrefs/lookaround), so Spark (java.util.regex)
# and SQL engines on RE2 match identical extents; replacement order is
# part of the contract (emails first so the later numeric patterns
# never see an address's local part).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"),
)


def pii_scrub(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Regex PII redaction with per-class match counts.

    Counts are taken on the original text; redactions apply in
    ``PII_PATTERNS`` order, each class replaced by its ``<CLASS>``
    token. Pure codegen expressions — the scan cost is a constant
    number of regex passes per row, no shuffle, no Python.
    """
    c = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).cast("long").alias(f"n_{name}")
        for name, pat in PII_PATTERNS
    ]
    scrub = c
    for name, pat in PII_PATTERNS:
        scrub = F.regexp_replace(scrub, pat, f"<{name.upper()}>")
    return df.select(F.col(id_col), *counts, scrub.alias("scrubbed"))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5) -> DataFrame:
    """Winnowing-style content fingerprint: the minimum md5 over the
    rolling word n-gram window. Stable under content reordering-free
    edits; equal fingerprints ⇒ shared rarest window.

    Explode-positions + codegen'd md5 projection + partial-agg min
    (4× faster than a per-row higher-order transform, which runs
    interpreted). Map-side combine collapses the shuffle to one row per
    doc, so the groupBy costs ~nothing at scale; the left join keeps
    docs shorter than ``n`` tokens with a NULL fp (oracle semantics).
    """
    ws = tokens_col(text_col)
    ids = df.select(F.col(id_col))
    base = df.select(F.col(id_col), ws.alias("ws")).where(F.size("ws") >= n)
    pos = base.select(
        id_col,
        "ws",
        F.explode(F.sequence(F.lit(1), F.size("ws") - (n - 1))).alias("i"),
    )
    mins = (
        pos.select(
            id_col,
            F.md5(
                F.concat_ws(" ", *[F.element_at("ws", F.col("i") + k) for k in range(n)])
            ).alias("h"),
        )
        .groupBy(id_col)
        .agg(F.min("h").alias("fp"))
    )
    return ids.join(mins, id_col, "left")


# -------------------------------------------- repeated-segment stripping
def strip_repeated_segments(
    df: DataFrame,
    delim: str = "\n",
    max_df: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_overcap: bool = True,
) -> DataFrame:
    """Remove segments (lines, sentences, tokens — whatever ``delim``
    yields) that repeat across the corpus more than ``max_df`` times:
    the RefinedWeb/C4-style cross-document boilerplate filter (nav
    bars, cookie banners, license headers appear verbatim in thousands
    of pages; their corpus frequency betrays them).

    Scale shape: segment frequency is a two-phase map-side-combined
    ``groupBy(seg).count()`` — the boilerplate segment (this operator's
    TARGET workload: nav bars / cookie banners appear in ~every doc)
    collapses to one row per map task — then a broadcast LEFT ANTI join
    against the over-cap segment set (≤ rows/max_df distinct segments)
    drops it without ever shuffling the big (doc, segment) frame on
    ``seg``. A window count (`count().over(partitionBy(seg))`) would
    land every occurrence of the hot segment on ONE unsplittable task —
    at 10⁹ docs that task materializes the whole corpus's boilerplate.
    Ordered reassembly is a map-side-combinable collect_list keyed by
    doc. Segment frequency is the SAME quantity `prune_by_df` caps for
    shingles; here the pruned thing is the document content itself.

    ``delim`` is a LITERAL delimiter (quoted via ``\\Q..\\E`` before
    Spark's regex `split`, matching the literal `array_join`
    reassembly), not a regex.

    Output: (doc_id, text) with surviving segments in original order
    (documents losing every segment keep an empty string).
    """
    # Pattern.quote-style literal quoting: split() takes a Java regex,
    # array_join() a literal — both must agree on delimiters like '.'
    delim_rx = "\\Q" + delim.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    ids = df.select(F.col(id_col).alias("doc_id"))
    segs = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), delim_rx)).alias("pos", "seg"),
    )
    over = (
        segs.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("seg")
    )
    if broadcast_overcap:
        over = F.broadcast(over)
    kept = segs.join(over, "seg", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            delim,
        ).alias("text")
    )
    return ids.join(rebuilt, "doc_id", "left").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )


def length_histogram(
    df: DataFrame,
    bucket_tokens: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus length distribution: documents bucketed by
    ``n_tokens div bucket_tokens`` (integral arithmetic — engine-exact,
    unlike float log buckets) with per-bucket doc/token counts and
    bounds. The standard pre-packing corpus report: bucket shares drive
    context-length and packing-capacity choices.

    Scale shape: per-row projection, then one map-side-combined groupBy
    over ≤ max_len/bucket_tokens distinct buckets — the shuffle is
    metadata-sized regardless of corpus size.
    """
    n = F.size(tokens_col(text_col)).cast("long")
    return (
        df.select(n.alias("n"))
        .where(F.col("n") > 0)
        .withColumn("bucket", F.expr(f"n div {int(bucket_tokens)}"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("n_tokens"),
            F.min("n").cast("long").alias("min_tokens"),
            F.max("n").cast("long").alias("max_tokens"),
        )
        .orderBy("bucket")
    )


def top_ngrams(
    df: DataFrame,
    n: int = 5,
    top_k: int = 20,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide most-repeated word n-grams — the boilerplate-mining
    report (C4/CCNet-style cleanup starts from this list: the n-grams
    that recur across a web corpus are headers, footers, cookie banners
    and license blurbs). Output (ngram, count, doc_freq, rank): total
    occurrences, distinct documents containing it, rank by
    (count desc, ngram asc), top_k rows.

    Scale shape: explode to n-gram occurrences, ONE aggregation keyed
    by the n-gram computing count(*) (map-side-combined) and the exact
    distinct-doc count (planned as Spark's two-phase partial/merge
    distinct aggregate — no per-group sets materialize); ``min_count``
    drops the unique-n-gram long tail (the overwhelming majority at
    corpus scale) before the global top-k, which is orderBy().limit()
    = distributed TakeOrdered — per-partition top-k, only top_k rows
    meet the driver; the rank window touches those top_k rows only.
    """
    if n < 1 or top_k < 1:
        raise ValueError(f"n and top_k must be >= 1, got n={n}, top_k={top_k}")
    # explode POSITIONS and project the gram per output row instead of
    # exploding a transform-built array: higher-order lambdas are
    # interpreted outside whole-stage codegen and the generator input
    # is re-evaluated per output row (and twice more in the inferred
    # non-empty filter) — measured 4.1-44 s for the fused shape vs
    # 0.3-0.7 s positional at sf0.1 (r14, guide §4.1; same fix as
    # ops/dedup.py's shingle base). Same output multiset.
    ws = tokens_col(text_col)
    grams = (
        df.select(F.col(id_col).alias("doc_id"), ws.alias("ws"))
        .where(F.size("ws") >= n)
        .select(
            "doc_id",
            "ws",
            F.explode(F.sequence(F.lit(1), F.size("ws") - (n - 1))).alias("i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.element_at("ws", F.col("i") + k) for k in range(n)]
            ).alias("ngram"),
        )
    )
    counts = (
        grams.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("count"),
            F.countDistinct("doc_id").cast("long").alias("doc_freq"),
        )
        .where(F.col("count") >= int(min_count))
    )
    # the partition-less window is EXPECTED and bounded: it runs
    # strictly after .limit(top_k), so Spark's "WindowExec: No
    # Partition Defined" warning at runtime concerns <= top_k rows
    w = Window.orderBy(F.col("count").desc(), F.col("ngram"))
    return (
        counts.orderBy(F.col("count").desc(), "ngram")
        .limit(top_k)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .orderBy("rank")
    )


def group_value_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: Column | str,
    q_permille: tuple[int, ...] = (500, 900, 990),
) -> DataFrame:
    """Exact per-group nearest-rank quantiles via a VALUE HISTOGRAM:
    quantile q = the smallest value whose cumulative count reaches
    ceil(q·n/1000) within its group. Output
    (``group_col``, q_permille, value, n_rows), one row per
    (group, quantile point).

    Scale shape — why not ``percentile()``: Spark's percentile (and
    any sort-based exact quantile) buffers every raw value per group
    in aggregation state, so a hot group OOMs the aggregate at corpus
    scale. Here the corpus collapses FIRST to a (group, value)
    histogram — one map-side-combined shuffle whose output is
    group × distinct-value cardinality, independent of row count —
    and the cumulative walk runs over histogram rows only. The
    contract: the value must be LOW-CARDINALITY (integral token
    counts, bucketed scores); the per-group window is bounded by that
    cardinality, which is the histogram-quantile trade. Quantile
    points are integral permille so the rank arithmetic is
    engine-exact: rank = (q·n + 999) div 1000 — no float boundary for
    two engines to disagree on.
    """
    hist = value_histogram_counts(df, group_col, value_col)
    return quantiles_from_histogram(hist, group_col, q_permille)


def value_histogram_counts(
    df: DataFrame, group_col: str, value_col: Column | str
) -> DataFrame:
    """(``group_col``, value, cnt): the per-group value histogram —
    the STORED statistic behind the quantile tier, and a count monoid:
    :func:`histogram_merge` of two waves' histograms equals the
    full-recompute histogram exactly, so corpus-wide quantiles update
    per ingest wave with a histogram-sized union instead of a corpus
    rescan (the `vocab_merge`/`merge_count_bitmaps` contract, for
    distributions). One map-side-combined shuffle whose output is
    group × distinct-value cardinality, independent of row count."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    return (
        df.select(F.col(group_col).alias(group_col), v.alias("value"))
        .groupBy(group_col, "value")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def histogram_merge(stored: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a wave's value histogram into a stored one — union +
    per-(group, value) count sum over histogram-sized frames
    (metadata, not corpus)."""
    cols = stored.columns
    return (
        stored.unionByName(delta.select(*cols))
        .groupBy(*[c for c in cols if c != "cnt"])
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def quantiles_from_histogram(
    hist: DataFrame,
    group_col: str,
    q_permille: tuple[int, ...] = (500, 900, 990),
) -> DataFrame:
    """The nearest-rank quantile walk over a
    :func:`value_histogram_counts` frame (see
    :func:`group_value_quantiles` for the semantics and rank
    arithmetic). Runs over histogram rows only — bounded by value
    cardinality, never corpus size."""
    qs_sorted = sorted(set(int(q) for q in q_permille))
    for q in qs_sorted:
        if not 0 < q <= 1000:
            raise ValueError(f"q_permille entries must be in (0, 1000], got {q}")
    if not qs_sorted:
        raise ValueError("q_permille must be non-empty")
    h = hist.select(
        F.col(group_col).alias("__g"), "value", F.col("cnt").alias("__c")
    )
    w = Window.partitionBy("__g").orderBy("value")
    cum = h.withColumn("__cum", F.sum("__c").over(w))
    totals = h.groupBy("__g").agg(F.sum("__c").cast("long").alias("n_rows"))
    qs = totals.select(
        "__g",
        "n_rows",
        F.explode(F.array([F.lit(q) for q in qs_sorted])).alias("q_permille"),
    ).withColumn("__rk", F.expr("(q_permille * n_rows + 999) div 1000"))
    return (
        cum.join(F.broadcast(qs), "__g")
        .where(F.col("__cum") >= F.col("__rk"))
        .groupBy("__g", "q_permille", "n_rows")
        .agg(F.min("value").alias("value"))
        .select(F.col("__g").alias(group_col), "q_permille", "value", "n_rows")
        .orderBy(group_col, "q_permille")
    )


def filter_by_group_quantile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q_permille: int = 900,
    keep: str = "ge",
) -> DataFrame:
    """Keep each group's rows at/above (``keep="ge"``) or at/below
    (``"le"``) the group's q-th nearest-rank quantile of ``value_col``
    — the "top decile quality per language" curation gate, with the
    threshold ADAPTIVE per group instead of one global cutoff (a global
    cutoff over-prunes low-scoring languages and under-prunes high-
    scoring ones).

    Scale shape: the thresholds come from
    :func:`group_value_quantiles` (histogram form — nothing buffers a
    hot group's raw values), yielding ONE row per group that
    broadcast-joins back as a filter. Two corpus passes total
    (histogram + filter), both scan-bound. The value must be
    low-cardinality (the histogram contract): round/bucket continuous
    scores to permille first.
    """
    if keep not in ("ge", "le"):
        raise ValueError(f"keep must be 'ge' or 'le', got {keep!r}")
    thr = group_value_quantiles(df, group_col, value_col, (q_permille,)).select(
        group_col, F.col("value").alias("__thr")
    )
    v = F.col(value_col)
    cond = v >= F.col("__thr") if keep == "ge" else v <= F.col("__thr")
    return df.join(F.broadcast(thr), group_col).where(cond).drop("__thr")


# ---------------------------------------------------- vocabulary stats
def vocab_stats(
    df: DataFrame,
    top_k: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus token-frequency table — the vocabulary-building pre-step:
    (token, count, rank, cum_share) for the ``top_k`` most frequent
    tokens, rank ties broken lexically, cum_share = cumulative fraction
    of ALL token occurrences (rounded to 6 digits).

    Scale shape: one map-side-combined groupBy over exploded tokens
    (shuffle ∝ distinct vocab, not corpus bytes), then rank/cumsum
    windows over the top_k frame only — top_k is a constant, so the
    single-partition window is metadata-sized by construction.

    Composition: ``vocab_report(vocab_counts(df), top_k)`` — keep the
    (token, count) frame (:func:`vocab_counts`) in the warehouse and
    maintain it with :func:`vocab_merge` so a new ingest wave never
    forces a full-corpus rescan.
    """
    return vocab_report(vocab_counts(df, text_col), top_k)


def vocab_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(tok, cnt) raw vocabulary counts — the materialized statistic a
    warehouse stores next to the corpus. One map-side-combined shuffle
    ∝ distinct vocab."""
    return (
        df.select(F.explode(tokens_col(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def vocab_js_divergence(stored: DataFrame, wave: DataFrame) -> DataFrame:
    """Corpus DRIFT monitor: Jensen–Shannon divergence between two
    (tok, cnt) vocabulary distributions (:func:`vocab_counts` frames),
    in integer micro-nats — the gate a pipeline checks before folding
    an ingest wave into a corpus (a drifted wave means the source
    changed: new boilerplate, a language shift, a scraper bug).
    JS = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2 — symmetric and bounded
    by ln 2 (≤ 693147 micro-nats), 0 iff identical distributions.

    One-row output (tokens_stored, tokens_wave, vocab_stored,
    vocab_wave, vocab_union, js_micro). Each token's KL term is
    rounded to micro-nats ONCE, so the sums are 64-bit-integer
    arithmetic (order-independent, engine-exact — the surprisal
    contract); the final halving is half-up integer division.

    Scale shape: one full-outer join of two vocab-sized frames (the
    stored statistic, not the corpus), two grand totals to the driver,
    then a map-side-combined integer sum. The corpora themselves are
    never rescanned — drift checks run on the SAME (tok, cnt) frames
    :func:`vocab_merge` maintains incrementally.
    """
    j = (
        stored.select("tok", F.col("cnt").alias("ca"))
        .join(wave.select("tok", F.col("cnt").alias("cb")), "tok", "full")
        .na.fill(0, ["ca", "cb"])
    )
    tot = j.agg(
        F.coalesce(F.sum("ca"), F.lit(0)).alias("ta"),
        F.coalesce(F.sum("cb"), F.lit(0)).alias("tb"),
    ).head()
    ta, tb = int(tot["ta"]), int(tot["tb"])
    if ta == 0 or tb == 0:
        raise ValueError("both vocabularies must be non-empty")
    p = F.col("ca") / F.lit(float(ta))
    q = F.col("cb") / F.lit(float(tb))
    m = (p + q) / 2

    def term(x):
        return (
            F.when(x > 0, F.round(F.lit(1_000_000) * x * F.log(x / m)))
            .otherwise(F.lit(0))
            .cast("long")
        )

    return (
        j.agg(
            F.lit(ta).cast("long").alias("tokens_stored"),
            F.lit(tb).cast("long").alias("tokens_wave"),
            F.sum((F.col("ca") > 0).cast("long")).cast("long").alias("vocab_stored"),
            F.sum((F.col("cb") > 0).cast("long")).cast("long").alias("vocab_wave"),
            F.count(F.lit(1)).cast("long").alias("vocab_union"),
            (
                F.coalesce(F.sum(term(p)), F.lit(0))
                + F.coalesce(F.sum(term(q)), F.lit(0))
            ).alias("__s"),
        )
        .select(
            "tokens_stored",
            "tokens_wave",
            "vocab_stored",
            "vocab_wave",
            "vocab_union",
            # JS >= 0 mathematically; the clamp kills the negative
            # few-micro-nat edge where per-term rounding error could
            # otherwise make the two engines' integer halving disagree
            F.expr("greatest(0, (__s + 1) div 2)").cast("long").alias("js_micro"),
        )
    )


def vocab_merge(stored: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a new wave's (tok, cnt) counts into stored counts —
    incremental vocabulary maintenance: counts are a commutative
    monoid, so merge(counts(A), counts(B)) is EXACTLY counts(A ∪ B)
    (pinned by the ``corpus_vocab_incremental`` oracle). At 100 TB the
    union shuffles two vocab-sized frames, never the corpus."""
    return (
        stored.select("tok", "cnt")
        .unionByName(delta.select("tok", "cnt"))
        .groupBy("tok")
        .agg(F.sum("cnt").alias("cnt"))
    )


def vocab_report(counts: DataFrame, top_k: int = 1000) -> DataFrame:
    """(token, count, rank, cum_share) report from a (tok, cnt) frame
    (see :func:`vocab_stats` for the contract)."""
    total = counts.agg(F.sum("cnt").alias("tot"))
    # orderBy().limit() plans as distributed TakeOrdered — no global
    # single-partition sort of the vocab; only the top_k survivors
    # meet the rank/cumsum window (bounded by construction), so the
    # runtime "WindowExec: No Partition Defined" warning is expected
    # and touches <= top_k rows
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok"))
    top = (
        counts.orderBy(F.col("cnt").desc(), "tok")
        .limit(top_k)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("cum", F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.col("tok").alias("token"),
            F.col("cnt").alias("count"),
            "rank",
            F.round(F.col("cum") / F.col("tot"), 6).alias("cum_share"),
        )
        .orderBy("rank")
    )


def tfidf_top_terms(
    df: DataFrame,
    top_k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    n_salts: int = 64,
) -> DataFrame:
    """Per-stratum TF-IDF leaderboard — the "what characterizes this
    language/domain slice" report: for each stratum, the ``top_k``
    tokens by ``tf · ln(N / df)`` where tf counts occurrences WITHIN
    the stratum and df counts distinct documents corpus-wide.
    Output (stratum, token, tf, doc_freq, score, rk); score rounded to
    6 digits, ties broken lexically.

    Scale shape: tf and df are both map-side-combined aggregations over
    the exploded-token frame (shuffle ∝ vocab, not corpus bytes); N is
    one scalar. The per-stratum ranking is a salted TWO-PHASE top-k —
    strata are few (languages), so a single window per stratum would
    pull a whole language's vocabulary onto one task; phase 1 ranks
    inside (stratum, salt-of-token) partitions and phase 2 re-ranks
    only the ≤ n_salts·top_k survivors.
    """
    from .sampling import hash_bucket

    exploded = df.select(
        F.col(id_col).alias("id"),
        F.col(stratum_col).alias("stratum"),
        F.explode(tokens_col(text_col)).alias("tok"),
    )
    tf = exploded.groupBy("stratum", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    docfreq = (
        exploded.select("id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
    )
    n_docs = df.count()
    scored = tf.join(docfreq, "tok").select(
        "stratum",
        F.col("tok").alias("token"),
        "tf",
        "doc_freq",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("doc_freq")), 6).alias(
            "score"
        ),
    )
    order = (F.col("score").desc(), F.col("token"))
    salt = (hash_bucket(F.col("token"), "swarm-tfidf") % n_salts).cast("int")
    w1 = Window.partitionBy("stratum", "salt").orderBy(*order)
    survivors = (
        scored.withColumn("salt", salt)
        .withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= top_k)
        .drop("r1", "salt")
    )
    w2 = Window.partitionBy("stratum").orderBy(*order)
    return (
        survivors.withColumn("rk", F.row_number().over(w2).cast("long"))
        .where(F.col("rk") <= top_k)
        .orderBy("stratum", "rk")
    )


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average unigram surprisal against the corpus's own
    token distribution — the CCNet-style "LM quality proxy without an
    LM": gibberish and rare-token soup score high, template boilerplate
    scores low. Output (doc_id, n_tokens, avg_surprisal_micro) with
    avg_surprisal_micro = -mean ln(count(tok)/total) in integer
    micro-nats.

    Engine-exact float story: each token's ln-probability is rounded to
    integer MICRO-nats first, so the per-doc sum is 64-bit-integer
    arithmetic — order-independent under any partitioning — and the
    mean stays integral via half-up integer division ((2s+n) div 2n):
    a double average would land exactly on .5 rounding ties that
    HALF_UP and round-to-even engines resolve differently.

    Scale shape: token-count aggregation shuffles ∝ vocab, the score
    join shuffles token rows by token (no window, no driver loop), and
    the per-doc reduce is a map-side-combined integer sum.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text_col)).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    total = counts.agg(F.sum("c").cast("long").alias("t"))
    micro = counts.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(-F.log(F.col("c") / F.col("t")) * 1_000_000)
        .cast("long")
        .alias("micro_surprisal"),
    )
    return (
        toks.join(micro, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("micro_surprisal").alias("s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("(2 * s + n_tokens) div (2 * n_tokens)").alias(
                "avg_surprisal_micro"
            ),
        )
        .orderBy("doc_id")
    )


def nb_train_quality(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 16384,
    seed: str = "swarm-nb",
) -> DataFrame:
    """Train a hashed-feature Naive-Bayes quality classifier — the
    standard public shape for corpus quality scoring (multinomial NB
    over bag-of-words, McCallum & Nigam 1998; the linear
    bag-of-features classifier popularized for corpus filtering by
    fastText, Joulin et al. 2016): ``label`` marks the known-good
    slice (CCNet/GPT-style "looks like the reference corpus"), and
    every hashed token bucket gets a Laplace-smoothed log-likelihood
    ratio ln p(bucket|good) − ln p(bucket|bad).

    Returns the MODEL as one small persistable frame (≤ num_buckets+3
    rows) of (bkt, llr_micro), with reserved rows: bkt = −1 holds the
    document-prior log-odds ln((n_good+1)/(n_bad+1)), bkt = −3 the
    unseen-bucket default ln((tn+B)/(tp+B)), and bkt = −4 the
    ``num_buckets`` itself — so a persisted model file is fully
    self-contained for :func:`nb_score_quality`. All values are integer
    MICRO-nats (rounded once), the same engine-exact contract as
    :func:`dsir_importance`. A NULL label counts as bad.

    Scale shape: ONE corpus scan — token counts AND per-class document
    counts fuse into a single map-side-combined aggregation (each doc
    contributes its tokens plus one marker element, so the doc prior
    needs no second pass); the shuffle collapses to ≤ num_buckets+1
    rows, and the four grand totals are collected at the driver (four
    longs — metadata). Training cost is therefore the same as one
    conditional count over the corpus, at any corpus size.
    """
    if num_buckets < 2:
        raise ValueError(f"num_buckets must be >= 2, got {num_buckets}")
    import math

    from .sampling import hash_bucket

    spark = df.sparkSession
    base = df.select(
        tokens_col(text_col).alias("ws"), label.cast("long").alias("is_p")
    )
    # one NULL marker element per doc rides the same explode as the
    # tokens: markers land in reserved bucket -2 and become the
    # per-class DOCUMENT counts, fusing the prior into the token pass
    ent = base.select(
        "is_p",
        F.explode(
            F.concat(F.array(F.lit(None).cast("string")), F.col("ws"))
        ).alias("tok"),
    )
    bkt = (
        F.when(F.col("tok").isNull(), F.lit(-2))
        .otherwise((hash_bucket(F.col("tok"), seed) % num_buckets).cast("int"))
        .cast("int")
    )
    counts = (
        ent.select(bkt.alias("bkt"), "is_p")
        .groupBy("bkt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cr"),
            F.coalesce(F.sum("is_p"), F.lit(0)).cast("long").alias("cp"),
        )
    )
    tot = counts.agg(
        F.sum(F.when(F.col("bkt") >= 0, F.col("cp"))).alias("tp"),
        F.sum(F.when(F.col("bkt") >= 0, F.col("cr") - F.col("cp"))).alias("tn"),
        F.sum(F.when(F.col("bkt") == -2, F.col("cp"))).alias("dp"),
        F.sum(F.when(F.col("bkt") == -2, F.col("cr") - F.col("cp"))).alias("dn"),
    ).head()
    tp, tn, dp, dn = (int(tot[k] or 0) for k in ("tp", "tn", "dp", "dn"))
    b = int(num_buckets)

    def _micro(x: float) -> int:
        # HALF-UP like Spark round()/DuckDB round(), not Python's
        # banker's rounding
        v = x * 1_000_000
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    stats = counts.where(F.col("bkt") >= 0).select(
        "bkt",
        F.round(
            (
                F.log((F.col("cp") + 1) / F.lit(float(tp + b)))
                - F.log((F.col("cr") - F.col("cp") + 1) / F.lit(float(tn + b)))
            )
            * 1_000_000
        )
        .cast("long")
        .alias("llr_micro"),
    )
    reserved = spark.createDataFrame(
        [
            (-1, _micro(math.log((dp + 1) / (dn + 1)))),
            (-3, _micro(math.log((tn + b) / (tp + b)))),
            (-4, b),
        ],
        "bkt int, llr_micro long",
    )
    return stats.unionByName(reserved)


def nb_score_quality(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
    seed: str = "swarm-nb",
) -> DataFrame:
    """Score documents with a :func:`nb_train_quality` model (built
    with the SAME seed; ``num_buckets`` defaults to the value the
    model stored in its reserved −4 row, so a persisted model file is
    self-describing): score = prior + Σ per-token bucket
    log-likelihood ratio, in integer micro-nats. Output
    (doc_id, n_tokens, score_micro, pred_good) with pred_good =
    score > 0; docs with no tokens are excluded (no features).

    Scale shape: the model BROADCASTS (≤ num_buckets rows) onto one
    exploded-token pass — one corpus scan, one map-side-combined
    integer sum per doc, never a corpus shuffle by bucket. Tokens
    hashing to a bucket unseen in training contribute the model's
    stored unseen-default llr (reserved row −3), so scoring a NEW wave
    against a historical model is well-defined.
    """
    from .sampling import hash_bucket

    res = {
        int(r["bkt"]): int(r["llr_micro"])
        for r in model.where(F.col("bkt") < 0).collect()
    }
    prior, unseen = res.get(-1, 0), res.get(-3, 0)
    if num_buckets is None:
        if -4 not in res:
            raise ValueError(
                "num_buckets not given and the model carries no -4 row"
            )
        num_buckets = res[-4]
    if num_buckets < 2:
        raise ValueError(f"num_buckets must be >= 2, got {num_buckets}")
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text_col)).alias("tok")
    )
    bk = toks.select(
        "doc_id", (hash_bucket(F.col("tok"), seed) % num_buckets).cast("int").alias("bkt")
    )
    score = F.lit(prior) + F.col("s")
    return (
        bk.join(F.broadcast(model.where(F.col("bkt") >= 0)), "bkt", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("llr_micro"), F.lit(unseen))).alias("s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            score.cast("long").alias("score_micro"),
            (score > 0).alias("pred_good"),
        )
        .orderBy("doc_id")
    )


def nb_eval_quality(
    df: DataFrame,
    model: DataFrame,
    label: Column,
    thresholds: list[int] = (0,),
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
    seed: str = "swarm-nb",
) -> DataFrame:
    """Evaluate a :func:`nb_train_quality` model on a labeled holdout:
    score ``df``, predict good where ``score_micro > t`` for each
    threshold in the sweep, and compare against ``label`` (the ground
    truth, NULL = bad). One row PER THRESHOLD — exact integer
    confusion counts (tp, fp, fn, tn) plus precision/recall/accuracy/
    F1 as integer micro-units, each an exact integer division rounded
    ONCE (NULL when the denominator is 0), so the whole operating
    curve is value-oracle-checkable. This is the measured operating
    point a ``curate --nb-model`` threshold should come from, instead
    of an unexamined ``score > 0``.

    Docs with zero tokens are not scored (no features — the
    :func:`nb_score_quality` contract) and therefore not counted.

    Scale shape: one scoring pass (broadcast model, the score
    contract) joined to the label projection on the id, fanned out
    only |thresholds|× (a literal), collapsing map-side into
    4·|thresholds| grand counters — the output is |thresholds| rows
    however large the holdout."""
    if not thresholds:
        raise ValueError("need at least one threshold")
    scored = nb_score_quality(
        df, model, text_col=text_col, id_col=id_col,
        num_buckets=num_buckets, seed=seed,
    )
    labs = df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(label.cast("boolean"), F.lit(False)).alias("y"),
    )
    pred = F.col("score_micro") > F.col("threshold_micro")
    cnt = lambda c: F.coalesce(F.sum(c.cast("long")), F.lit(0)).cast("long")
    conf = (
        scored.join(labs, "doc_id")
        .select(
            "score_micro",
            "y",
            F.explode(
                F.array(*[F.lit(int(t)).cast("long") for t in thresholds])
            ).alias("threshold_micro"),
        )
        .groupBy("threshold_micro")
        .agg(
            cnt(pred & F.col("y")).alias("tp"),
            cnt(pred & ~F.col("y")).alias("fp"),
            cnt(~pred & F.col("y")).alias("fn"),
            cnt(~pred & ~F.col("y")).alias("tn"),
        )
    )
    micro = lambda num, den: F.when(
        den > 0, F.round(F.lit(1_000_000.0) * num / den).cast("long")
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return conf.select(
        "threshold_micro",
        "tp",
        "fp",
        "fn",
        "tn",
        micro(tp, tp + fp).alias("precision_micro"),
        micro(tp, tp + fn).alias("recall_micro"),
        micro(tp + tn, tp + fp + fn + tn).alias("accuracy_micro"),
        micro(2 * tp, 2 * tp + fp + fn).alias("f1_micro"),
    ).orderBy("threshold_micro")


def hashed_embedding(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "swarm-htf",
    normalize: bool = True,
) -> DataFrame:
    """Model-free document vectors by the signed hashing trick
    (Weinberger et al. 2009): token t adds ±1 (sign from a second
    hash) to dimension md5-bucket(t) mod ``dim``; optional unit-L2
    normalization, components rounded to 9 digits. Bridges raw text
    into every embedding-tier operator (semantic dedup, ANN, k-NN)
    without a model — the standard cheap featurizer for
    cluster-then-dedup pipelines.

    Output (doc_id, vec array<double>). Deterministic and
    engine-portable: md5-derived buckets/signs, integral accumulation,
    one rounded division — a pure function of the text.

    Scale shape: explode + one map-side-combined groupBy(doc, dim)
    shuffle, then a per-doc collect_list bounded by ``dim`` (a
    literal) — never a corpus-keyed window. An all-zero vector (empty
    text) stays zero instead of dividing by its zero norm.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    from .sampling import hash_bucket

    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text_col)).alias("tok")
    )
    signed = toks.select(
        "doc_id",
        (hash_bucket(F.col("tok"), seed) % dim).cast("int").alias("d"),
        (hash_bucket(F.col("tok"), seed + "-sign") % 2 * 2 - 1)
        .cast("long")
        .alias("s"),
    )
    cells = signed.groupBy("doc_id", "d").agg(F.sum("s").alias("v"))
    # integral components end to end: the squared norm is a LONG sum,
    # so it is exact and order-independent — the one division below is
    # the only float op, making the vector engine-exact after rounding
    dense = (
        cells.groupBy("doc_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("d", "v"))).alias("m")
        )
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(0, {dim - 1}), "
                f"d -> cast(coalesce(element_at(m, d), 0) AS bigint))"
            ).alias("raw"),
        )
    )
    as_double = F.transform("raw", lambda x: x.cast("double"))
    if not normalize:
        return dense.select("doc_id", as_double.alias("vec"))
    n2 = F.aggregate(
        "raw", F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    return dense.select(
        "doc_id",
        F.when(F.lit(0).cast("long") == n2, as_double)
        .otherwise(
            F.transform(
                "raw",
                lambda x: F.round(
                    x.cast("double") / F.sqrt(n2.cast("double")), 9
                ),
            )
        )
        .alias("vec"),
    )


def chunk_text(
    df: DataFrame,
    size: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window token chunking WITHIN each document — the
    RAG-indexing / context-window-preprocessing splitter (documents
    keep their boundaries, unlike :func:`swarm_spark.ops.packing.
    pack_concat_chunks` which packs across them). Windows of ``size``
    whitespace tokens advance by ``size − overlap``; the last window
    starts at the smallest multiple of the stride that still reaches
    the document's end (the standard fixed-stride rule — no trailing
    window fully contained in its predecessor).

    Output, one row per (doc, window): (doc_id, chunk_id, start_tok,
    n_tok, chunk). Pure codegen — an array transform + explode + slice
    per row, no shuffle, no UDF; chunking pushes through the scan like
    any projection, so chunking 100 TB is scan-bound.
    """
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    if not 0 <= overlap < size:
        raise ValueError(f"overlap must be in [0, size), got {overlap}")
    step = size - overlap
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("ws")
    ).withColumn("n", F.size("ws"))
    # last chunk index: 0 if the doc fits one window, else
    # ceil((n - size) / step) — the add-then-truncate form is exact for
    # non-negative operands in BOTH truncating (Spark div) and flooring
    # (DuckDB //) integer division, so the oracle mirrors it verbatim
    starts = (
        f"transform(sequence(0, CASE WHEN n <= {size} THEN 0 "
        f"ELSE (n - {size} + {step - 1}) div {step} END), k -> k * {step})"
    )
    return (
        toks.where(F.col("n") > 0)
        .select(
            "doc_id",
            "ws",
            "n",
            F.posexplode(F.expr(starts)).alias("chunk_id", "start_tok"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long"),
            F.col("start_tok").cast("long"),
            F.least(F.lit(size), F.col("n") - F.col("start_tok"))
            .cast("long")
            .alias("n_tok"),
            F.expr(f"concat_ws(' ', slice(ws, start_tok + 1, {size}))").alias(
                "chunk"
            ),
        )
        .orderBy("doc_id", "chunk_id")
    )


def dsir_importance(
    df: DataFrame,
    target: DataFrame | Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
    seed: str = "swarm-dsir",
) -> DataFrame:
    """Hashed-bigram importance weights (DSIR, Xie et al. 2023): score
    every raw document by how target-like its n-gram distribution is —
    importance(doc) = Σ over the doc's hashed bigram features of
    ln p_target(bucket) − ln p_raw(bucket), Laplace-smoothed over
    ``num_buckets``. Rank by the weight (or sample ∝ exp(weight)) to
    select pretraining data toward a target domain without a model.

    Output (doc_id, n_bigrams, importance_micro): the log-ratio sum in
    integer micro-nats — each bucket's ratio is rounded to micro-nats
    ONCE, so the per-doc sum is 64-bit-integer arithmetic,
    order-independent under any partitioning (the same engine-exact
    contract as :func:`unigram_surprisal`). Docs with < 2 tokens have
    no features and are excluded.

    Scale shape: feature hashing bounds the statistic to
    ``num_buckets`` rows — count aggregations are map-side-combined
    shuffles that collapse to ≤ num_buckets rows, the per-bucket
    log-ratio frame BROADCASTS to the scoring join (never a shuffle of
    the corpus by bucket), and the per-doc reduce is a map-side-
    combined integer sum. Pass ``target`` as a boolean COLUMN over
    ``df``'s rows (the common "target is a labeled slice of the raw
    pool" case) and raw + target counts fuse into ONE aggregation over
    one corpus scan — the executed plan reads the corpus exactly
    twice (stats + scoring), total. A separate target DataFrame costs
    one extra scan of its own. The two grand totals are collected at
    the driver (two longs — metadata, like IVF centroids) so no
    1-row-broadcast joins ride the plan.
    """
    if num_buckets < 2:
        raise ValueError(f"num_buckets must be >= 2, got {num_buckets}")
    from .sampling import hash_bucket

    def _bg(frame: DataFrame, extra: Column | None = None) -> DataFrame:
        # positional bigram explode: explode start positions and build
        # each bigram per output row (codegen) instead of exploding a
        # transform-lambda-built array, whose interpreted generator is
        # re-evaluated per output row at the fused explode (guide §4.1;
        # the r14 pattern — same multiset, docs with < 2 tokens emit
        # nothing either way)
        cols = [F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("ws")]
        if extra is not None:
            cols.append(extra.cast("long").alias("is_t"))
        out = (
            frame.select(*cols)
            .where(F.size("ws") >= 2)
            .select(
                "*",
                F.explode(F.sequence(F.lit(1), F.size("ws") - 1)).alias("i"),
            )
            .select(
                "*",
                F.concat(
                    F.element_at("ws", F.col("i")),
                    F.lit(" "),
                    F.element_at("ws", F.col("i") + 1),
                ).alias("bg"),
            )
        )
        keep = ["doc_id"] + (["is_t"] if extra is not None else [])
        return out.select(
            *keep,
            (hash_bucket(F.col("bg"), seed) % num_buckets)
            .cast("int")
            .alias("bkt"),
        )

    if isinstance(target, Column):
        bk = _bg(df, extra=target)
        counts = bk.groupBy("bkt").agg(
            F.count(F.lit(1)).cast("long").alias("cr"),
            F.sum("is_t").cast("long").alias("ct"),
        )
        raw_bg = bk.select("doc_id", "bkt")
    else:
        raw_bg = _bg(df)
        raw = raw_bg.groupBy("bkt").agg(
            F.count(F.lit(1)).cast("long").alias("cr")
        )
        tgt = _bg(target).groupBy("bkt").agg(
            F.count(F.lit(1)).cast("long").alias("ct")
        )
        # FULL outer: a bucket present only in the target still counts
        # toward tt (the target normalizer) — a left join undercounted
        # tt and skewed every smoothed log-ratio (ADVICE r6)
        counts = raw.join(tgt, "bkt", "full").na.fill(0, ["cr", "ct"])
    tot = counts.agg(
        F.coalesce(F.sum("cr"), F.lit(0)).alias("rt"),
        F.coalesce(F.sum("ct"), F.lit(0)).alias("tt"),
    ).head()
    rt, tt = int(tot["rt"]), int(tot["tt"])
    b = int(num_buckets)
    stats = counts.select(
        "bkt",
        F.round(
            (
                F.log((F.col("ct") + 1) / F.lit(float(tt + b)))
                - F.log((F.col("cr") + 1) / F.lit(float(rt + b)))
            )
            * 1_000_000
        )
        .cast("long")
        .alias("lr_micro"),
    )
    return (
        raw_bg.join(F.broadcast(stats), "bkt")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("lr_micro").alias("importance_micro"),
        )
        .orderBy("doc_id")
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average BIGRAM surprisal against the corpus's own
    Laplace-smoothed conditional model: −mean ln P(tok | prev) with
    P = (c(prev,tok)+1) / (c(prev→·)+V), where c(prev→·) counts the
    TRANSITIONS out of ``prev`` (bigrams with ``prev`` first) — not raw
    occurrences of ``prev``, which would include document-final tokens
    with no outgoing transition and leave Σ P(·|prev) < 1 (ADVICE r6) —
    and V is the unigram vocabulary size. One order up from
    :func:`unigram_surprisal` — template boilerplate scores even lower
    (its transitions are predictable), token-soup scores higher (no
    transition is), the CCNet-style quality signal without a trained LM.

    Output (doc_id, n_bigrams, avg_surprisal_micro); docs with < 2
    tokens have no transitions and are excluded. Same engine-exact
    contract as the unigram form: each transition's ln-probability is
    rounded to integer micro-nats FIRST, sums are 64-bit integers, the
    mean is half-up integer division.

    Scale shape: bigram counts are one map-side-combined shuffle ∝
    bigram vocabulary; the transition totals c(prev→·) reduce FROM the
    bigram counts (vocab-sized, no extra corpus scan); V rides the
    driver as one long; the score join shuffles bigram rows by bigram
    key — no windows, no driver loops.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("ws")
    )
    # positional transition explode (guide §4.1): codegen positions +
    # element_at instead of an interpreted transform-lambda struct
    # array re-evaluated per output row at the fused explode; docs with
    # < 2 tokens emit nothing either way
    bgs = (
        base.where(F.size("ws") >= 2)
        .select(
            "doc_id",
            "ws",
            F.explode(F.sequence(F.lit(1), F.size("ws") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            F.element_at("ws", F.col("i")).alias("prev"),
            F.element_at("ws", F.col("i") + 1).alias("cur"),
        )
    )
    # vocabulary size: one long via the driver
    v = base.select(F.explode("ws").alias("tok")).distinct().count()
    bi = bgs.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    # transitions out of prev — reduced from bi, not from raw unigram
    # occurrences (doc-final tokens have no outgoing transition)
    prevtot = bi.groupBy("prev").agg(F.sum("cb").cast("long").alias("cp"))
    stats = bi.join(prevtot, "prev").select(
        "prev",
        "cur",
        F.round(
            -F.log((F.col("cb") + 1) / (F.col("cp") + F.lit(int(v)))) * 1_000_000
        )
        .cast("long")
        .alias("micro"),
    )
    return (
        bgs.join(stats, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("micro").alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("(2 * s + n_bigrams) div (2 * n_bigrams)").alias(
                "avg_surprisal_micro"
            ),
        )
        .orderBy("doc_id")
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    selection rule): hash every word ``k``-gram, slide a window of
    ``w`` consecutive hashes, keep each window's minimum — any shared
    run of ≥ w+k-1 tokens between two documents is GUARANTEED to share
    a fingerprint, at ~2/(w+1) of the shingle density. Output the
    distinct (doc_id, fp) pairs — the local-fingerprint index side.

    Scale shape: explode positions + codegen md5 per k-gram (the same
    explode-project shape as doc_shingles — no interpreted higher-order
    fold), then a per-doc ordered window bounded by the DOCUMENT's own
    gram count (taxonomy class (a)), then a distinct ∝ fingerprints.
    Hashes stay 32-hex strings end to end: string min is
    engine-portable, no 64-bit hash semantics to replicate.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    ws = tokens_col(text_col)
    base = df.select(F.col(id_col).alias("doc_id"), ws.alias("ws")).where(
        F.size("ws") >= k
    )
    pos = base.select(
        "doc_id",
        "ws",
        F.explode(F.sequence(F.lit(0), F.size("ws") - k)).alias("i"),
    )
    gram = F.concat_ws(
        " ", *[F.element_at("ws", F.col("i") + j + 1) for j in range(k)]
    )
    hashed = pos.select("doc_id", "i", F.md5(gram).alias("h"))
    win = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(w - 1), 0)
    )
    return (
        hashed.select(
            "doc_id", "i", F.min("h").over(win).alias("fp")
        )
        .where(F.col("i") >= w - 1)
        .select("doc_id", "fp")
        .distinct()
    )
