"""Lexical retrieval over the corpus — the tier next to the embedding
ANN operators (`ops/similarity.py` / `ops/pq.py`), so hybrid (lexical
+ semantic) search composes from the rank lists:

- :func:`bm25_topk` — Robertson/Zaragoza BM25 keyword ranking;
- :func:`lm_topk` — Zhai/Lafferty Dirichlet query likelihood over the
  SAME persisted index (cf stats fold from the postings);
- :func:`phrase_match` / :func:`phrase_match_grams` — exact-phrase
  search (positional intersection over a stored (id, tok, pos) index;
  L-gram equi-join as the short-phrase scale path);
- :func:`rrf_fuse` — reciprocal-rank fusion of any rank lists (MMR
  diversification lives with the vectors:
  :func:`swarm_spark.ops.similarity.mmr_select`).

All index tables (postings, df/cf stats, totals, positions) are
mergeable stored statistics: build once (`save_bm25` /
`save_positional`, CLI ``index --kind bm25|positional``), fold
append-only waves in with a groupBy-sum or plain union, probe with
``docs=None`` and ZERO corpus text reads (plan-test-pinned).

BM25 here is the Lucene/Robertson formulation (public: Robertson &
Zaragoza 2009, "The Probabilistic Relevance Framework: BM25 and
Beyond"):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

with each per-(query, doc, term) contribution rounded ONCE to integer
micro-nats, so the final per-pair sums are 64-bit-integer arithmetic —
order-independent and engine-exact (the registry's surprisal/DSIR
determinism contract). Query terms are DEDUPLICATED (each distinct
query term contributes once — the Lucene convention for short keyword
queries).

Scale shape (the 100-TB story):
- the postings list (id, tok, tf) and the document-frequency statistic
  (tok, df) are ONE map-side-combined shuffle each over the exploded
  corpus — both are stored statistics a warehouse materializes next to
  the corpus, and ``df``/``n_docs``/``tot_tokens`` are all additive
  across disjoint waves (mergeable, like the vocab/histogram/bitmap
  family);
- a query batch never touches the vocab-sized stats frame at
  broadcast width: query terms equi-join the stats first (output ≤
  |Q|·terms rows — metadata), and only THAT frame broadcasts into the
  postings join, guarded by the similarity-tier bounded batch probe;
- candidates are exactly the docs sharing ≥ 1 query term (the inverted
  index gate) — no all-pairs stage; the final (query, doc) aggregation
  and salted two-phase top-k bound every window task at ~k rows.

Session-cache contract (r14 VERDICT #6): both pruned rankers run one
MaxScore gate ladder (``_maxscore_topk``). Its first gate is priced
by ONE action over the batch's query-term rows (weights, volume
statistic, upper bound) with the corpus totals riding along; the
seed choice runs on the driver, so ``seed_term`` is a driver-local
frame, like θ. The ladder persist()s only what a later action or
the returned plan re-reads: the ad-hoc entry's batch-restricted
postings, the batch's query-term rows (``qw`` and, past gate #1,
``qub`` read them back), and, past gate #1, ``seed_pairs`` and
``ess`` (essential terms). They are NOT unpersisted on exit (a lazy
frame is returned; the terminal action happens at the caller). Batch
jobs and the bench clear the session cache between queries; a
long-lived serving session should `spark.catalog.clearCache()`
between query batches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sampling import hash_bucket
from .text import tokens_col


def bm25_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: DataFrame | None = None,
) -> DataFrame:
    """(id, dl, tok, tf): the inverted-index postings with per-doc
    token length — ONE explode + map-side-combined aggregation. This
    is the materialized search index; ``tf`` is additive per (id, tok)
    so append-only waves fold in with a groupBy-sum.

    ``vocab`` (a 1-column ``tok`` frame, e.g. a query batch's distinct
    terms) restricts the exploded tokens BEFORE the aggregation — the
    ad-hoc probe optimization: every value the ranking path reads
    (per-(id, tok) tf, per-tok df/max_tf, the dl carried on each row)
    is computed per token, so restricting to the batch vocabulary
    leaves all of them bit-identical for the tokens that survive while
    the postings shuffle shrinks from corpus volume to the batch's
    relevant postings (Σ occurrences of batch terms). Only valid when
    every consumer is batch-scoped — an index BUILD must pass None."""
    toks = df.select(
        F.col(id_col).alias("id"), tokens_col(text_col).alias("__ws")
    ).withColumn("dl", F.size("__ws").cast("long"))
    exploded = toks.select("id", "dl", F.explode("__ws").alias("tok"))
    if vocab is not None:
        exploded = exploded.join(F.broadcast(vocab), "tok")
    return (
        exploded
        .groupBy("id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_stats(postings: DataFrame) -> DataFrame:
    """(tok, df) document frequencies from a postings frame — one
    map-side-combined shuffle ∝ vocab; additive across disjoint
    corpora (merge == groupBy-sum, the stored-statistic contract)."""
    return postings.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))


def bm25_totals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(n_docs, tot_tokens): the corpus grand totals BM25's idf/avgdl
    need — ONE aggregate row computed at BUILD time from the raw docs
    (so zero-token documents count toward N, which a postings-derived
    count would miss). Additive across disjoint waves: merging is
    ``union`` and probes fold multi-row frames with a sum, so the
    stored statistic follows the vocab/histogram/bitmap monoid
    contract."""
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(F.size(tokens_col(text_col))), F.lit(0)).alias(
            "tot_tokens"
        ),
    )


def save_bm25(
    postings: DataFrame,
    stats: DataFrame,
    totals: DataFrame,
    path: str,
    tok_buckets: int | None = None,
) -> None:
    """Persist a BM25 lexical index: postings (corpus-sized — the only
    table that scales with the corpus), df stats (vocab-sized) and the
    grand totals (1+ rows; additive). All three are mergeable, so
    append-only waves fold in without rebuilding — mirror of
    :func:`swarm_spark.ops.pq.save_ivfpq`.

    ``tok_buckets``: hash-partition the postings files by a bucket of
    ``tok`` (see :func:`save_positional`) so probes can partition-prune
    the scan to their query terms' buckets via
    :func:`prune_tok_buckets`. Prune only the PROBE's postings input —
    the derived-totals fallback (``totals=None``) needs the full
    frame."""
    import os

    if tok_buckets is None:
        postings.write.mode("overwrite").parquet(os.path.join(path, "postings"))
    else:
        (
            postings.withColumn(
                _TOK_BUCKET_COL, tok_bucket_col(F.col("tok"), tok_buckets)
            )
            .write.mode("overwrite")
            .partitionBy(_TOK_BUCKET_COL)
            .parquet(os.path.join(path, "postings"))
        )
    stats.write.mode("overwrite").parquet(os.path.join(path, "stats"))
    totals.write.mode("overwrite").parquet(os.path.join(path, "totals"))


def load_bm25(spark, path: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Read back a :func:`save_bm25` index as (postings, stats,
    totals). The postings keep their embedded schema (any id type
    survives the round trip); totals are pinned to the additive
    (n_docs, tot_tokens) long pair."""
    import os

    return (
        spark.read.parquet(os.path.join(path, "postings")),
        spark.read.parquet(os.path.join(path, "stats")),
        spark.read.schema("n_docs long, tot_tokens long").parquet(
            os.path.join(path, "totals")
        ),
    )


def _query_tokens(queries: DataFrame, query_id_col: str, query_text_col: str):
    """(query_id, tok): one row per query token occurrence."""
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(tokens_col(query_text_col)).alias("tok"),
    )


def _probe_index(
    docs, queries, postings, totals, text_col, id_col, query_text_col,
    broadcast_max_queries, pre_qn=None, persist=False,
):
    """(postings, totals, small) for a lexical probe — the two entry
    shapes every ranker here shares. Ad-hoc (``postings=None``):
    postings from ``docs``, restricted to the batch vocabulary BEFORE
    the aggregation when the batch passes the broadcast guard (the
    ranking path only ever reads batch-term rows, and tf/df/cf/dl are
    per-token values, so results are bit-identical while the postings
    shuffle shrinks from corpus volume to the batch's relevant
    postings); totals from the raw docs (N and the token total are
    corpus facts, not batch facts). Persisted index: the given
    postings; without ``totals`` they are derived from the postings'
    distinct (id, dl) pairs — exact unless the corpus holds zero-token
    docs, which shift N/avgdl only.

    ``pre_qn`` is a ``limit(cap+1).count()`` the caller already ran
    past the broadcast cap: it settles the guard without a second
    action. ``persist`` caches the ad-hoc postings for callers that run
    several actions over them."""
    from .similarity import _probe_is_small

    if postings is None and docs is None:
        raise ValueError("need docs or a persisted postings frame")
    small = (
        broadcast_max_queries is not None and pre_qn <= broadcast_max_queries
        if pre_qn is not None
        else _probe_is_small(queries, broadcast_max_queries)
    )
    if postings is not None:
        if totals is None:
            totals = postings.select("id", "dl").distinct().agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("tot_tokens"),
            )
        return postings, totals, small
    qvocab = queries.select(
        F.explode(tokens_col(query_text_col)).alias("tok")
    ).distinct()
    post = bm25_postings(docs, text_col, id_col, vocab=qvocab if small else None)
    if persist:
        post = post.persist()
    if totals is None:
        totals = bm25_totals(docs, text_col, id_col)
    return post, totals, small


def _totals_agg(totals: DataFrame) -> DataFrame:
    """(__n, __tt): a totals frame's rows (one per appended wave — the
    additive-statistic contract) folded into ONE row."""
    return totals.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("__n"),
        F.coalesce(F.sum("tot_tokens"), F.lit(0)).alias("__tt"),
    )


def _sum_totals(totals: DataFrame) -> tuple[int, int]:
    """(n_docs, tot_tokens) of a totals frame: ONE driver row."""
    tot = _totals_agg(totals).head()
    return int(tot["__n"]), int(tot["__tt"])


def _lit(x: int) -> Column:
    return F.lit(float(x))


def bm25_topk(
    docs: DataFrame | None,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    n_salts: int = 16,
    broadcast_max_queries: int | None = 10_000,
    postings: DataFrame | None = None,
    stats: DataFrame | None = None,
    totals: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k search: (query_id, id, score_micro, rank), rank by
    score descending, ties by id ascending. Self-matches are kept (a
    query is external text; if it happens to BE a corpus row, that row
    legitimately scores highest).

    Two entry shapes:

    - **ad-hoc**: pass ``docs``; postings, df stats and totals are
      built in-line (one corpus explode + one grand aggregate).
    - **persisted index** (build-once/probe-many, the ANN-tier
      workflow): pass ``postings``/``stats``/``totals`` from
      :func:`load_bm25` and ``docs=None`` — the probe then touches the
      INDEX tables only, never the raw text (r8 ADVICE: the old path
      re-tokenized every doc per batch, and a drifted ``docs`` could
      silently mismatch the postings). All index frames must describe
      the same corpus — they are one index, not mix-and-match inputs.
      ``totals`` may hold one row per appended wave; it is folded with
      a sum (the additive-statistic contract). With ``postings`` but
      no ``totals`` the totals are derived from the postings' distinct
      (id, dl) pairs — exact unless the corpus contains zero-token
      docs (which contribute to N/avgdl but have no postings); pass
      the stored totals when that matters.

    Corpus totals are ONE driver row however obtained; ``avgdl``
    enters the formula as the exact double ``tot/N`` both engines
    compute identically.
    """
    if k < 1 or k1 <= 0 or not 0.0 <= b <= 1.0:
        raise ValueError(f"need k >= 1, k1 > 0, 0 <= b <= 1; got {k}, {k1}, {b}")
    return _rank_all(
        _Bm25Scorer(k1, b), docs, queries, k, text_col, id_col, query_id_col,
        query_text_col, n_salts, broadcast_max_queries, postings, stats, totals,
    )


def bm25_term_bounds(postings: DataFrame) -> DataFrame:
    """(tok, max_tf): the per-term score-bound statistic MaxScore-style
    pruning needs (:func:`bm25_pruned` / :func:`lm_pruned`). ``max_tf``
    is a MAX monoid — additive-family mergeable like df/cf (fold waves
    with a groupBy-max), so it persists next to the postings
    (:func:`save_bm25_bounds`) and stays valid under append-only
    growth: a wave can only raise a term's true max, and the folded max
    tracks it exactly. One vocab-sized map-side-combined shuffle."""
    return postings.groupBy("tok").agg(F.max("tf").cast("long").alias("max_tf"))


def save_bm25_bounds(bounds: DataFrame, path: str) -> None:
    """Persist a :func:`bm25_term_bounds` frame beside a
    :func:`save_bm25` index (table ``bounds`` under the same root)."""
    import os

    bounds.write.mode("overwrite").parquet(os.path.join(path, "bounds"))


def load_bm25_bounds(spark, path: str) -> DataFrame:
    """Read back a :func:`save_bm25_bounds` table."""
    import os

    return spark.read.schema("tok string, max_tf long").parquet(
        os.path.join(path, "bounds")
    )


def _salted_survivors(
    scored: DataFrame, k: int, n_salts: int, salt_seed: str
) -> DataFrame:
    """Phase 1 of the salted two-phase top-k: the best k rows per
    (query, salt) of a (query_id, id, score_micro) frame, ranked by
    score descending, ties by id — no task sorts more than ~k rows per
    (query, salt), and the union of the survivors holds every query's
    true top k."""
    order = (F.col("score_micro").desc(), F.col("id"))
    salt = (hash_bucket(F.col("id").cast("string"), salt_seed) % n_salts).cast("int")
    w1 = Window.partitionBy("query_id", "salt").orderBy(*order)
    return (
        scored.withColumn("salt", salt)
        .withColumn("rk", F.row_number().over(w1))
        .where(F.col("rk") <= k)
        .drop("rk", "salt")
    )


def _two_phase_topk(
    scored: DataFrame, k: int, n_salts: int, salt_seed: str
) -> DataFrame:
    """(query_id, id, score_micro, rank): the retrieval tier's salted
    two-phase top-k over a (query_id, id, score_micro) frame — rank by
    score descending, ties by id; no task sorts more than ~k rows per
    (query, salt)."""
    w2 = Window.partitionBy("query_id").orderBy(F.col("score_micro").desc(), F.col("id"))
    return (
        _salted_survivors(scored, k, n_salts, salt_seed)
        .withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "id", "score_micro", "rank")
        .orderBy("query_id", "rank")
    )


def _kth_score(
    scored: DataFrame, k: int, n_salts: int, salt_seed: str
) -> DataFrame:
    """(query_id, theta): the EXACT k-th highest ``score_micro`` per
    query (ties by id — the retrieval tier's ranking order), absent
    when a query has fewer than k scored docs; phase 2 of
    :func:`_two_phase_topk` keeps only rank k."""
    w2 = Window.partitionBy("query_id").orderBy(F.col("score_micro").desc(), F.col("id"))
    return (
        _salted_survivors(scored, k, n_salts, salt_seed)
        .withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") == k)
        .select("query_id", F.col("score_micro").alias("theta"))
    )


def _materialize_small(df: DataFrame) -> DataFrame:
    """Execute a metadata-sized frame ONCE and rebuild it as a
    driver-local DataFrame — the run-once shape ``localCheckpoint``
    gave the pruned rankers' θ, without its executor-stored blocks
    (those are unrecoverable under executor loss / dynamic
    deallocation: the whole query would fail instead of recomputing).
    θ is ≤ |Q| rows of (query_id, long), so holding it on the driver
    and re-parallelizing is strictly cheaper AND cluster-safe; the
    local frame also broadcasts trivially into the downstream joins."""
    rows = df.collect()
    return df.sparkSession.createDataFrame(rows, df.schema)


class _Bm25Scorer:
    """BM25's side of :func:`_maxscore_topk`: idf-weighted DISTINCT
    query terms, ``df`` as the posting-volume statistic, and no
    exclusion slack (every contribution is non-negative). ``weights``
    and ``ub`` take the corpus totals as columns, so the ladder's
    pricing action evaluates them next to the totals aggregate and the
    ranking plans evaluate them over literals — one expression each."""

    vol = "df"
    salt, seed_salt = "swarm-bm25", "swarm-bm25p"
    stats = staticmethod(bm25_stats)

    def __init__(self, k1: float, b: float):
        self.k1, self.b = k1, b

    def query_terms(self, qtoks: DataFrame, bcast) -> DataFrame:
        return qtoks.distinct()

    def check(self, n: int, tt: int) -> None:
        if n == 0:
            raise ValueError("corpus is empty")

    def weights(self, n: Column, tt: Column) -> list[Column]:
        # over query terms ⋈ stats; n/tt are double columns
        idf = F.log(
            F.lit(1.0) + (n - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
        return [idf.alias("idf"), F.col("df")]

    def ub(self, tt: Column) -> Column:
        # the tf-norm at dl -> 0 bounds every posting's contribution
        # (tf-norm rises with tf, falls with dl; round is monotone; +1
        # absorbs float-rounding headroom)
        k1, b = self.k1, self.b
        ub_tfnorm = (F.col("max_tf") * F.lit(k1 + 1.0)) / (
            F.col("max_tf") + F.lit(k1 * (1.0 - b))
        )
        return F.round(F.lit(1_000_000) * F.col("idf") * ub_tfnorm).cast("long") + 1

    def score(self, joined: DataFrame, n: int, tt: int) -> DataFrame:
        k1, b = self.k1, self.b
        avgdl = float(tt) / float(n)
        tfnorm = (F.col("tf") * F.lit(k1 + 1.0)) / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
        term_micro = F.round(F.lit(1_000_000) * F.col("idf") * tfnorm).cast("long")
        return (
            joined.select("query_id", "id", term_micro.alias("__t"))
            .groupBy("query_id", "id")
            .agg(F.sum("__t").alias("score_micro"))
        )

    def floor(self, cum: DataFrame, post: DataFrame):
        return cum, F.col("theta")


def _rank_all(
    scorer, docs, queries, k, text_col, id_col, query_id_col, query_text_col,
    n_salts, broadcast_max_queries, postings, stats, totals,
) -> DataFrame:
    """The exhaustive ranker behind :func:`bm25_topk` / :func:`lm_topk`
    (and the pruned rankers' pre-gate): every doc sharing a query term
    is scored by ``scorer``, then the salted two-phase top-k."""
    post, totals, small = _probe_index(
        docs, queries, postings, totals, text_col, id_col, query_text_col,
        broadcast_max_queries,
    )
    if stats is None:
        stats = scorer.stats(post)
    n, tt = _sum_totals(totals)
    scorer.check(n, tt)
    bcast = F.broadcast if small else (lambda frame: frame)
    qtoks = _query_tokens(queries, query_id_col, query_text_col)
    # query terms meet the vocab-sized stats in an equi-join FIRST; the
    # |Q|*terms-row result is what broadcasts into the postings join
    qw = (
        scorer.query_terms(qtoks, bcast)
        .join(stats, "tok")
        .select("query_id", "tok", *scorer.weights(_lit(n), _lit(tt)))
    )
    return _two_phase_topk(
        scorer.score(post.join(bcast(qw), "tok"), n, tt), k, n_salts, scorer.salt
    )


def _price_batch(scorer, qterms, stats, bounds, totals, k: int, seed_terms: int):
    """Gate #1 of :func:`_maxscore_topk`, priced from the stored
    statistics in ONE action (REPOSE-style: precomputed per-term bounds
    make the pruning decision a metadata step, not a distributed plan).
    The action reads the batch's query-term rows — query terms ⋈
    stats ⋈ bounds, at most |Q|·terms rows — with the corpus totals
    (n, tt) riding along as columns, so the scorer's ``weights``/``ub``
    expressions evaluate inside it. It persists the term rows and
    brings only (query_id, tok, volume, ub) to the driver, where the
    seed choice and the gate sums run; the ranking plans read the term
    rows back from the cache, so no query-term row is re-parallelized
    from the driver.

    Returns (n, tt, v_all, qw, seed_term): ``qw`` (query_id, tok,
    weights, ub) reads the cached term rows, with the same
    ``weights``/``ub`` expressions over literal totals; ``seed_term``
    (query_id, tok) is a driver-local frame built only when the batch
    passes the gate, else None (route exhaustive)."""
    vol = scorer.vol
    # bounds rows fold with their max monoid first, so an appended
    # wave's unfolded rows can neither duplicate a query term (and
    # double-count its weight in the ranking joins) nor leave a stale
    # max_tf below the true one. LEFT join: a query term missing from
    # the bounds table (a partial bounds build) gets an infinite upper
    # bound — always essential, so incomplete bounds degrade pruning,
    # never correctness.
    folded = bounds.groupBy("tok").agg(F.max("max_tf").alias("max_tf"))
    terms_df = qterms.join(stats, "tok").join(folded, "tok", "left").persist()

    def _weigh(frame, n: Column, tt: Column, *keep: str) -> DataFrame:
        return (
            frame.select(*keep, "query_id", "tok", "max_tf", *scorer.weights(n, tt))
            .withColumn(
                "ub",
                # 2^52: unreachable by any real theta (scores are ~2^31)
                # yet safe in the cumulative sum (10^3 terms x 2^52 < 2^63)
                F.when(F.col("max_tf").isNull(), F.lit(1 << 52)).otherwise(scorer.ub(tt)),
            )
            .drop("max_tf")
        )

    # the totals row is the preserved side, so it comes back even for a
    # batch with no corpus term (one all-null term row); the nested-loop
    # join stays in this action, and the ranking plans read the cached
    # term rows with the totals as literals
    rows = (
        _weigh(
            _totals_agg(totals).join(terms_df, F.lit(True), "left"),
            F.col("__n").cast("double"), F.col("__tt").cast("double"), "__n", "__tt",
        )
        .select("__n", "__tt", "query_id", "tok", vol, "ub")
        .collect()
    )
    n, tt = int(rows[0]["__n"]), int(rows[0]["__tt"])
    scorer.check(n, tt)
    terms = [r for r in rows if r["tok"] is not None]
    qw = _weigh(terms_df, _lit(n), _lit(tt))

    # seed from the top-`seed_terms` upper-bound terms (ub descending,
    # ties by tok), not just one: on rare-tail vocabularies the single
    # top term's posting list can hold fewer than k docs, leaving theta
    # undefined and pruning disabled; a handful of rare lists still
    # seeds cheaply, and theta stays a LOWER bound whatever the seed
    # subset is (any doc scoring >= theta is in the candidate set by
    # the exclusion bound, so the proof never needs seed membership).
    # Terms whose volume statistic exceeds max(k, N/8) never seed: a
    # term matching an eighth of the corpus cannot give a selective
    # theta, and exactly scoring its posting list costs a large
    # fraction of the exhaustive plan (measured: short queries whose
    # rare terms ran out pulled stopword posting lists into seeding —
    # 2.9x the exhaustive wall on the doc-length Zipf batch). cf >= df,
    # so LM's cf cap errs toward the exhaustive route, never toward an
    # expensive seed.
    seed_cap = max(k, n // 8)
    by_query: dict = {}
    for r in terms:
        if r[vol] <= seed_cap:
            by_query.setdefault(r["query_id"], []).append(r)
    seeds = [
        r
        for rs in by_query.values()
        for r in sorted(rs, key=lambda r: (-r["ub"], r["tok"]))[:seed_terms]
    ]

    # Pruning exists to make candidates follow rare posting lists; when
    # the top-ub "rare" seed terms already carry > 1/3 of the batch's
    # total posting volume, the vocabulary has no rarity to exploit
    # (the saturated case: min df ≈ max df) and the seed/verify passes
    # would pay joins for ~zero cut — measured slower than exhaustive
    # at 10x. The second condition prices the seed VERIFY fan-out:
    # each seed pair is exactly scored against its doc's batch-vocab
    # posting rows, so the seed cost is ~v_seed·(slice_rows/N), where
    # slice_rows (Σ vol over the batch's DISTINCT tokens) is the seed
    # verify's scan width; on doc-length query batches (batch vocab ≈
    # corpus vocab) that alone reaches exhaustive volume even when
    # v_seed looks tiny — measured before this term: seed scoring ≈
    # 0.9× the exhaustive aggregation on the full-doc Zipf batch. No
    # seed term at all (a fully saturated vocabulary) makes theta
    # impossible. Results are identical either way (the pruning
    # proof), so fall back to the exhaustive plan shape.
    v_all = sum(r[vol] for r in terms)
    v_seed = sum(r[vol] for r in seeds)
    slice_rows = sum({r["tok"]: r[vol] for r in terms}.values())
    if (
        not seeds
        or v_all == 0
        or n == 0
        or v_seed * 3 > v_all
        or v_seed * (float(slice_rows) / float(n)) * 3.0 > float(v_all)
    ):
        return n, tt, v_all, qw, None
    seed_term = qterms.sparkSession.createDataFrame(
        [(r["query_id"], r["tok"]) for r in seeds], qw.select("query_id", "tok").schema
    )
    return n, tt, v_all, qw, seed_term


def _maxscore_topk(
    scorer,
    docs: DataFrame | None,
    queries: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    query_id_col: str,
    query_text_col: str,
    n_salts: int,
    broadcast_max_queries: int | None,
    postings: DataFrame | None,
    stats: DataFrame | None,
    totals: DataFrame | None,
    bounds: DataFrame | None,
    seed_terms: int,
    min_prune_queries: int | None,
) -> DataFrame:
    """The MaxScore gate ladder behind :func:`bm25_pruned` and
    :func:`lm_pruned`: seed terms -> volume gate -> eligibility gate ->
    θ -> essential prefix -> gate #2 -> verify ∪ θ-null slice. The
    ``scorer`` (:class:`_Bm25Scorer` / :class:`_LmScorer`) supplies
    only what differs between the rankers: the query-term weights with
    their volume statistic (``vol``) and per-term upper bound, one
    ``score`` turning postings ⋈ query terms into (query_id, id,
    score_micro), the exclusion ``floor`` (θ minus the ranker's
    normalizer slack) and the salt seeds."""
    if seed_terms < 1:
        raise ValueError(f"seed_terms must be >= 1, got {seed_terms}")
    pre_qn = None
    if postings is None and min_prune_queries is not None and min_prune_queries > 0:
        cap = max(min_prune_queries, broadcast_max_queries or 0)
        pre_qn = queries.limit(cap + 1).count()
        if pre_qn < min_prune_queries:
            return _rank_all(
                scorer, docs, queries, k, text_col, id_col, query_id_col,
                query_text_col, n_salts, broadcast_max_queries, None, stats, totals,
            )
    # ad-hoc entry: the pricing action and the later gate actions all
    # read the postings, and WITHOUT caching each one re-derives them
    # (explode + aggregation over the raw corpus) from scratch —
    # measured as the bulk of this entry shape's 1.5x-over-exhaustive
    # bench overhead. persist() keeps lineage (executor loss
    # recomputes, unlike localCheckpoint), and the vocab-sized
    # stats/bounds derivations below reuse the cached frame.
    post, totals, small = _probe_index(
        docs, queries, postings, totals, text_col, id_col, query_text_col,
        broadcast_max_queries, pre_qn, persist=True,
    )
    if stats is None:
        stats = scorer.stats(post)
    if bounds is None:
        bounds = bm25_term_bounds(post)

    def _b(frame):
        return F.broadcast(frame) if small else frame

    vol = scorer.vol
    qterms = scorer.query_terms(
        _query_tokens(queries, query_id_col, query_text_col), _b
    )
    n, tt, v_all, qw, seed_term = _price_batch(
        scorer, qterms, stats, bounds, totals, k, seed_terms
    )
    qw_b = _b(qw)
    # batch-vocabulary scan restriction for the exact-scoring joins:
    # one semi-join on tok emits Σ df over the batch's DISTINCT tokens
    # (each posting row once), where joining candidates by bare id
    # would fan every candidate out by its doc's FULL posting list
    # (~dl rows) before the query-term filter — measured 1.6x SLOWER
    # than exhaustive at 10x data before this cut
    qtok_b = _b(qw.select("tok").distinct())

    def _exhaustive():
        return _two_phase_topk(
            scorer.score(post.join(qw_b, "tok"), n, tt), k, n_salts, scorer.salt
        )

    def _exact_scores(pairs: DataFrame) -> DataFrame:
        # batch-vocab postings → candidate docs (AQE broadcasts the
        # pair frame when pruning made it small) → per-query terms
        return scorer.score(
            post.join(qtok_b, "tok").join(pairs, "id").join(qw_b, ["query_id", "tok"]),
            n,
            tt,
        )

    if seed_term is None:
        return _exhaustive()

    # df-bounded by the seed cap and reused by the eligibility count,
    # the routing gate and the theta scoring — persist (§5)
    seed_pairs = (
        post.join(_b(seed_term), "tok").select("query_id", "id").distinct().persist()
    )
    # pre-route BEFORE exact seed scoring: a query with fewer than k
    # seed docs can never get a theta, so its pairs are dropped here —
    # exact scoring (the fan-out join) runs only over queries that can
    # prune; the k-th-score set is unchanged (theta exists iff >= k
    # seed docs), hence results are identical
    elig_q = (
        seed_pairs.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__nsd"))
        .where(F.col("__nsd") >= k)
        .select("query_id")
    )
    # -------- routing-volume gate, evaluated BEFORE seed scoring:
    # theta exists iff a query has >= k seed docs (every seed pair gets
    # an exact score), so the theta-defined set IS elig_q and its
    # volume share is known without scoring anything. The split plan
    # pays a second aggregated branch + union before top-k, a cost
    # ~O(batch volume) — worth it only when the defined slice carries a
    # real share of that volume (measured: with ~1.5% of queries
    # eligible, the split plan ran 1.8x the plain exhaustive on the
    # doc-length Zipf batch; and paying seed scoring BEFORE this check
    # was the bulk of the pruned ranker's 1.5x-over-exhaustive bench
    # overhead on exactly that batch shape). The <= |Q|-row per-query
    # volume frame comes back to the driver in ONE action and doubles
    # as the local eligible set, so the theta job never recomputes the
    # seed-doc counting subtree.
    elig_vol = (
        qw.join(_b(elig_q), "query_id")
        .groupBy("query_id")
        .agg(F.coalesce(F.sum(vol), F.lit(0)).alias("v_q"))
    )
    elig_rows = elig_vol.collect()
    v_def = sum(int(r["v_q"]) for r in elig_rows)
    if v_def == 0 or v_def * 8 < v_all:
        return _exhaustive()
    elig_loc = queries.sparkSession.createDataFrame(
        elig_rows, elig_vol.schema
    ).select("query_id")
    seed_pairs = seed_pairs.join(F.broadcast(elig_loc), "query_id")
    # theta is <= |Q| rows; materialized ONCE as a driver-local frame
    # so the seed scoring does not re-execute under gate #2's action
    # and again under the final plan (it is the priciest subplan of
    # the pruned path — three executions showed up directly in probe
    # wall time), and so executor loss cannot strand it the way
    # localCheckpoint blocks would
    theta = _materialize_small(
        _kth_score(_exact_scores(seed_pairs), k, n_salts, scorer.seed_salt)
    )

    # -------- per-query routing: theta-DEFINED queries take the
    # candidate-verify path; theta-null queries (fewer than k seed
    # docs — e.g. every seed term's posting list points at the same
    # near-dup cluster) take the exhaustive plan SHAPE on their slice.
    # Before this split, a starved majority forced the all-or-nothing
    # gate and the whole batch paid seed overhead for zero cut; now a
    # mixed batch prunes where theta exists and pays nothing extra
    # where it doesn't (the null branch IS the exhaustive join).
    wcum = (
        Window.partitionBy("query_id")
        .orderBy(F.col("ub").asc(), F.col("tok"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    qub = qw.select("query_id", "tok", vol, "ub")
    cum, floor = scorer.floor(qub.withColumn("cum", F.sum("ub").over(wcum)), post)
    ess = (
        cum.join(_b(theta), "query_id")
        .where(F.col("cum") >= floor)
        .select("query_id", "tok")
        .persist()
    )
    # -------- adaptive gate #2: theta may still leave most of the
    # theta-DEFINED queries' volume essential (flat upper bounds).
    # Metadata-priced: v_def is already on the driver, so this action
    # prices only the essential share of the defined slice; if that
    # isn't a real cut, verify would join candidate pairs that are
    # ~all pairs: take the exhaustive shape for everything instead.
    theta_q = theta.select("query_id")
    ev = (
        qw.join(theta_q, "query_id")
        .join(ess.withColumn("__e", F.lit(1)), ["query_id", "tok"], "left")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("__e").isNotNull(), F.col(vol)).otherwise(0)),
                F.lit(0),
            ).alias("v_ess"),
        )
        .head()
    )
    if int(ev["v_ess"]) * 3 > 2 * v_def:
        return _exhaustive()

    cand = post.join(_b(ess), "tok").select("query_id", "id").distinct()
    exhaustive_slice = scorer.score(
        post.join(_b(qw.join(theta_q, "query_id", "left_anti")), "tok"), n, tt
    )
    return _two_phase_topk(
        _exact_scores(cand).unionByName(exhaustive_slice), k, n_salts, scorer.salt
    )


def bm25_pruned(
    docs: DataFrame | None,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    n_salts: int = 16,
    broadcast_max_queries: int | None = 10_000,
    postings: DataFrame | None = None,
    stats: DataFrame | None = None,
    totals: DataFrame | None = None,
    bounds: DataFrame | None = None,
    seed_terms: int = 8,
    min_prune_queries: int | None = 2000,
) -> DataFrame:
    """:func:`bm25_topk` with MaxScore-style candidate pruning — SAME
    output, bit for bit (score, rank, ties), but only a fraction of the
    doc-sharing-a-term candidates ever reach the scoring aggregation.
    Public technique: the impact-ordered pruning family of Turtle &
    Flood 1995 ("Query evaluation: strategies and optimizations",
    MaxScore) / Broder et al. 2003 (WAND), re-expressed as three
    declarative passes instead of a doc-at-a-time cursor walk:

    1. **Seed θ**: each query's ``seed_terms`` highest-upper-bound
       terms (≈ its rarest terms — several, because one rare term's
       posting list can hold fewer than k docs) nominate their posting
       lists as seed docs; those docs are scored EXACTLY, and θ = the
       k-th seed score — a lower bound on the true k-th score because
       seed docs are a subset of all candidates. Fewer than k seed
       docs → θ is absent for THAT query → it is routed to the
       exhaustive plan shape on its slice (per-query routing: a
       seed-starved minority — or majority — never drags the rest of
       the batch out of the pruned path, and pays nothing beyond the
       shared seed scoring).
    2. **Essential terms**: per term, ub = round(1e6·idf·ub_tfnorm)+1
       with ub_tfnorm = max_tf·(k1+1)/(max_tf + k1·(1−b)) — the tf-norm
       at dl → 0, an upper bound on every posting's contribution
       (tf-norm is increasing in tf, decreasing in dl; round is
       monotone; +1 absorbs float-rounding headroom). Sorting a query's
       terms by ub ascending, the maximal prefix whose cumulative ub ≤
       θ−1 is NON-essential: a doc matching only those terms scores ≤
       θ−1 < θ, and ≥ k seed docs score ≥ θ, so it can never enter the
       top k (integer micro-nat scores make the strict bound exact —
       no epsilon reasoning). High-df terms have low idf hence low ub:
       exactly the posting lists that made the unpruned probe
       candidate-bound are the ones pruned.
    3. **Verify**: candidates = docs holding ≥ 1 ESSENTIAL term; they
       are scored over ALL their query-term postings (the classical
       MaxScore non-essential lookup), then the usual salted two-phase
       top-k. Every true top-k doc holds an essential term (else its
       score < θ), and every seed doc does too (the top-ub term is
       always essential: Σ all ub ≥ θ), so pruned == exhaustive.

    ``bounds`` is the (tok, max_tf) statistic (:func:`bm25_term_bounds`
    — max-monoid mergeable, persistable via :func:`save_bm25_bounds`);
    derived from the postings when not given. Other inputs and the two
    entry shapes (ad-hoc ``docs`` / persisted index with ``docs=None``)
    are exactly :func:`bm25_topk`'s.

    Scale shape: the seed/candidate pair frames are df-bounded (the
    rare-term posting lists), never |Q|·N; the exact-scoring joins gate
    the postings on those pair frames first (AQE broadcasts them when
    they are as small as pruning makes them), so the score aggregation
    and top-k windows see only surviving candidates.

    Pruning is also SELF-DISABLING where it cannot help: two volume
    checks against the df statistic detect a vocabulary with no
    rarity spread — the saturated case, where every "rare" term is
    dense and the candidate set cannot shrink — and return the plain
    exhaustive plan instead of paying seed/verify joins for nothing
    (measured: unguarded pruning on a fully saturated vocab ran slower
    than the exhaustive ranker; see SCALING.md). The first check runs
    before any seed or verify work, in one action over the query
    terms' statistics and the corpus totals; on the ad-hoc entry that
    action also materializes the batch-restricted postings the df and
    bounds statistics are derived from. The second runs after θ.
    Results are identical on every path — that is the theorem the
    oracle checks.

    ``min_prune_queries`` is the AD-HOC batch-size pre-gate (r11
    VERDICT #1): on the ad-hoc entry the gate machinery's extra driver
    actions are fixed overhead while pruning's savings scale with the
    batch, and the crossover was MEASURED at sf0.1/local[32] on the
    keyword serving shape — 500 queries: decision cost dominates;
    5,000: pruning wins 2.4x. Batches below the threshold route
    straight to :func:`bm25_topk` before ANY postings/gate action runs
    (one bounded ``limit(cap+1).count()`` probe, which also settles
    the broadcast guard — no extra action vs the old path). Persisted-
    index entries (``postings`` given) are NEVER pre-gated: against a
    big stored index a single stopword-bearing query is exactly where
    MaxScore earns its keep, and the index-side gate actions are
    metadata-priced there. ``None`` disables the pre-gate."""
    if k < 1 or k1 <= 0 or not 0.0 <= b <= 1.0:
        raise ValueError(f"need k >= 1, k1 > 0, 0 <= b <= 1; got {k}, {k1}, {b}")
    return _maxscore_topk(
        _Bm25Scorer(k1, b),
        docs, queries, k, text_col, id_col, query_id_col, query_text_col,
        n_salts, broadcast_max_queries, postings, stats, totals, bounds,
        seed_terms, min_prune_queries,
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 5,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N
    rank lists sharing the (query_id, id, rank) shape — the standard
    hybrid-search combiner (lexical BM25 list + semantic ANN list):

        fused(q, d) = Σ_lists round(1e6 / (rrf_k + rank(q, d)))

    in integer micro-units (missing (q, d) in a list contributes 0),
    re-ranked descending, ties by id. Rank-only fusion needs no score
    calibration between lists — exactly why it is the production
    default for hybrid retrieval.

    Scale shape: a union of k-bounded rank lists (each ≤ |Q|·k rows —
    metadata next to the searches that produced them), one
    map-side-combined sum, and a window over ≤ N_lists·k rows per
    query. Output (query_id, id, rrf_micro, rank)."""
    if not rankings:
        raise ValueError("need at least one ranking")
    if k < 1 or rrf_k < 1:
        raise ValueError(f"need k >= 1 and rrf_k >= 1; got {k}, {rrf_k}")
    contrib = F.round(F.lit(1_000_000.0) / (F.lit(rrf_k) + F.col("rank"))).cast("long")
    parts = [
        r.select("query_id", "id", contrib.alias("__c")) for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", "id").agg(F.sum("__c").alias("rrf_micro"))
    w = Window.partitionBy("query_id").orderBy(F.col("rrf_micro").desc(), F.col("id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "id", "rrf_micro", "rank")
        .orderBy("query_id", "rank")
    )


def lm_cf_stats(postings: DataFrame) -> DataFrame:
    """(tok, cf) collection frequencies (total occurrences, not
    document counts) from a postings frame — the statistic
    query-likelihood smoothing needs where BM25 needs ``df``. One
    vocab-sized map-side-combined shuffle; additive across disjoint
    corpora (merge == groupBy-sum, the stored-statistic contract), and
    derivable for free from a persisted :func:`save_bm25` index."""
    return postings.groupBy("tok").agg(F.sum("tf").cast("long").alias("cf"))


class _LmScorer:
    """Dirichlet query likelihood's side of :func:`_maxscore_topk`
    (bound and normalizer slack: see :func:`lm_pruned`): query terms
    keep their multiplicity ``qtf`` and ``cf`` is the volume statistic.
    The upper bound reads the corpus token total |C| (``tt``)."""

    vol = "cf"
    salt, seed_salt = "swarm-lm", "swarm-lmp"
    stats = staticmethod(lm_cf_stats)

    def __init__(self, mu: float):
        self.mu = mu

    def query_terms(self, qtoks: DataFrame, bcast) -> DataFrame:
        # |q| counts every query token, corpus-absent terms included
        self.qlen_b = bcast(
            qtoks.groupBy("query_id").agg(F.count(F.lit(1)).cast("long").alias("qlen"))
        )
        return qtoks.groupBy("query_id", "tok").agg(
            F.count(F.lit(1)).cast("long").alias("qtf")
        )

    def check(self, n: int, tt: int) -> None:
        if tt == 0:
            raise ValueError("corpus has no tokens")

    def weights(self, n: Column, tt: Column) -> list[Column]:
        return [F.col("qtf"), F.col("cf")]

    def _ln_micro(self, tf_col: Column, tt: Column) -> Column:
        return F.round(
            F.lit(1_000_000.0)
            * F.log(F.lit(1.0) + (tf_col * tt) / (F.lit(self.mu) * F.col("cf")))
        ).cast("long")

    def _norm(self, dl_col: Column) -> Column:
        return F.round(
            F.lit(1_000_000.0) * F.log(F.lit(self.mu) / (dl_col + F.lit(self.mu)))
        ).cast("long")

    def ub(self, tt: Column) -> Column:
        return F.col("qtf") * self._ln_micro(F.col("max_tf"), tt) + 1

    def score(self, joined: DataFrame, n: int, tt: int) -> DataFrame:
        term_micro = F.col("qtf") * self._ln_micro(F.col("tf"), _lit(tt))
        pairs = (
            joined.select("query_id", "id", "dl", term_micro.alias("__t"))
            .groupBy("query_id", "id")
            .agg(F.sum("__t").alias("__s"), F.max("dl").alias("dl"))
        )
        return pairs.join(self.qlen_b, "query_id").select(
            "query_id",
            "id",
            (F.col("__s") + F.col("qlen") * self._norm(F.col("dl"))).alias("score_micro"),
        )

    def floor(self, cum: DataFrame, post: DataFrame):
        # slack = the normalizer at the minimum posting dl. On the
        # ad-hoc entry the postings are batch-vocabulary-restricted:
        # min dl over docs holding a batch term is tighter and still
        # covers every candidate. The scan runs here, after the routing
        # gates, so the saturated/starved fallbacks never pay it.
        min_dl = int(
            post.agg(F.coalesce(F.min("dl"), F.lit(0)).alias("m")).head()["m"]
        )
        return cum.join(self.qlen_b, "query_id"), F.col("theta") - F.col(
            "qlen"
        ) * self._norm(F.lit(min_dl))


def lm_topk(
    docs: DataFrame | None,
    queries: DataFrame,
    k: int = 5,
    mu: float = 2000.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    n_salts: int = 16,
    broadcast_max_queries: int | None = 10_000,
    postings: DataFrame | None = None,
    cf_stats: DataFrame | None = None,
    totals: DataFrame | None = None,
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (public:
    Zhai & Lafferty 2004, "A Study of Smoothing Methods for Language
    Models Applied to Ad Hoc Information Retrieval") — the other
    classical lexical ranker next to :func:`bm25_topk`, sharing its
    inverted-index gate and persisted-index shapes. Rank-preserving
    decomposition (their Eq. 6):

        score(q, d) = Σ_{t ∈ q∩d} c(t,q)·ln(1 + tf·|C| / (µ·cf(t)))
                      + |q|·ln(µ / (dl + µ))

    with cf(t) the COLLECTION frequency and |C| total corpus tokens.
    Unlike BM25's deduplicated keyword convention, query terms keep
    their multiplicity c(t,q) — the query IS a language-model sample.
    Each ln(...) is rounded ONCE to integer micro-nats and multiplied
    by the integer term count, so per-pair scores are 64-bit-integer
    sums — order-independent and engine-exact. Output (query_id, id,
    score_micro, rank); candidates are docs sharing >= 1 query term
    (the inverted-index gate — the |q|·ln(µ/(dl+µ)) length normalizer
    only reranks docs already in the candidate set).

    Same two entry shapes as :func:`bm25_topk`: ad-hoc (pass ``docs``)
    or persisted index (pass ``postings`` [+ ``totals``] from
    :func:`load_bm25`; ``cf_stats`` folds from the postings when not
    given). Scale shape is BM25's: query terms meet the vocab-sized cf
    stats in an equi-join BEFORE the guarded broadcast into the
    postings join; the salted two-phase top-k bounds every window task
    at ~k rows."""
    if k < 1 or mu <= 0:
        raise ValueError(f"need k >= 1 and mu > 0; got {k}, {mu}")
    return _rank_all(
        _LmScorer(mu), docs, queries, k, text_col, id_col, query_id_col,
        query_text_col, n_salts, broadcast_max_queries, postings, cf_stats, totals,
    )


def lm_pruned(
    docs: DataFrame | None,
    queries: DataFrame,
    k: int = 5,
    mu: float = 2000.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    n_salts: int = 16,
    broadcast_max_queries: int | None = 10_000,
    postings: DataFrame | None = None,
    cf_stats: DataFrame | None = None,
    totals: DataFrame | None = None,
    bounds: DataFrame | None = None,
    seed_terms: int = 8,
    min_prune_queries: int | None = 2000,
) -> DataFrame:
    """:func:`lm_topk` with MaxScore-style pruning — same output, bit
    for bit, via :func:`bm25_pruned`'s gate ladder (θ seeded from the
    exactly-scored postings of each query's top ``seed_terms``
    upper-bound terms, ub-ascending non-essential prefix, verify
    candidates holding ≥ 1 essential term), with ``cf`` as the volume
    statistic. Two LM-specific deltas:

    - per-term ub = qtf·round(1e6·ln(1 + max_tf·|C|/(µ·cf))) + 1 — the
      contribution at the term's max tf (monotone in tf; +1 headroom);
    - the per-doc length normalizer |q|·ln(µ/(dl+µ)) is NEGATIVE and
      doc-dependent, so the exclusion bound uses its corpus-wide max:
      qnorm_ub = qlen·round(1e6·ln(µ/(min_dl+µ))) with min_dl the
      minimum posting dl — evaluated by the SAME Spark expression as
      the real normalizer, so the bound is exact, not epsilon-padded.
      A doc with only non-essential terms scores ≤ cum_NE + qnorm_ub ≤
      θ−1 < θ; seed θ scores include each seed doc's own normalizer,
      so θ lower-bounds the true k-th score.

    ``bounds`` is the same (tok, max_tf) statistic BM25 pruning uses
    (one bounds table serves both rankers). ``min_prune_queries``
    routes small ad-hoc batches to :func:`lm_topk` before any gate
    action runs."""
    if k < 1 or mu <= 0:
        raise ValueError(f"need k >= 1 and mu > 0; got {k}, {mu}")
    return _maxscore_topk(
        _LmScorer(mu),
        docs, queries, k, text_col, id_col, query_id_col, query_text_col,
        n_salts, broadcast_max_queries, postings, cf_stats, totals, bounds,
        seed_terms, min_prune_queries,
    )


def positional_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, tok, pos): the POSITIONAL inverted index — one posexplode,
    no aggregation (each occurrence is its own row, ~dl rows per doc,
    the standard ~3× postings-size cost of storing positions). Rows
    are per-doc facts, so disjoint append-only waves fold in by plain
    union — no merge arithmetic at all (the simplest member of the
    stored-index family)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens_col(text_col)).alias("pos", "tok"),
    ).select("id", "tok", F.col("pos").cast("long").alias("pos"))


def phrase_match(
    docs: DataFrame | None,
    phrases: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    phrase_id_col: str = "phrase_id",
    phrase_text_col: str = "text",
    broadcast_max_queries: int | None = 10_000,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Exact-phrase search over the positional index: (phrase_id, id,
    n_hits) for every document containing the phrase's token sequence
    CONTIGUOUSLY, with n_hits its number of starting positions. The
    classical positional-intersection query (Manning, Raghavan &
    Schütze, IIR §2.4): a document position p matches phrase offset i
    iff doc[p] == phrase[i]; anchoring each candidate row to its
    implied start ``base = pos − i`` turns phrase matching into a pure
    count — base is a hit iff all len(phrase) offsets matched, a
    groupBy, never a per-row scan of the document.

    Scale shape: the phrase terms (|P|·len rows — metadata, broadcast
    under the bounded batch probe) equi-join the positional postings,
    so candidates are exactly the (doc, position) pairs sharing a
    phrase token — the inverted-index gate; no doc is ever re-read or
    re-tokenized per phrase, and every aggregation key (phrase, doc,
    base) is bounded by the posting lists. Pass a persisted
    :func:`positional_postings` frame to skip tokenization entirely
    (build-once/probe-many, ``docs=None``)."""
    from .similarity import _probe_is_small

    if postings is None:
        if docs is None:
            raise ValueError("need docs or a persisted positional postings frame")
        postings = positional_postings(docs, text_col, id_col)
    small = _probe_is_small(phrases, broadcast_max_queries)
    pterms = phrases.select(
        F.col(phrase_id_col).alias("phrase_id"),
        F.posexplode(tokens_col(phrase_text_col)).alias("i", "tok"),
    ).select("phrase_id", F.col("i").cast("long").alias("i"), "tok")
    plen = pterms.groupBy("phrase_id").agg(
        F.count(F.lit(1)).cast("long").alias("plen")
    )
    # each candidate row is one (phrase offset, doc position) agreement;
    # a start position is a hit iff ALL plen offsets agreed
    cand = (
        postings.join(F.broadcast(pterms) if small else pterms, "tok")
        .select("phrase_id", "id", (F.col("pos") - F.col("i")).alias("base"))
    )
    starts = cand.groupBy("phrase_id", "id", "base").agg(
        F.count(F.lit(1)).alias("nm")
    )
    return (
        starts.join(F.broadcast(plen) if small else plen, "phrase_id")
        .where(F.col("nm") == F.col("plen"))
        .groupBy("phrase_id", "id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        .orderBy("phrase_id", "id")
    )


def phrase_match_rare(
    docs: DataFrame | None,
    phrases: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    phrase_id_col: str = "phrase_id",
    phrase_text_col: str = "text",
    broadcast_max_queries: int | None = 10_000,
    postings: DataFrame | None = None,
) -> DataFrame:
    """:func:`phrase_match` semantics with RARE-TERM-FIRST gating — the
    scale fix for the general positional path (SCALING.md: unguarded
    intersection reads 15.9x wall at 10x data on the saturated vocab,
    because candidates are one row per (phrase term, matching
    position), i.e. Σ_i positions(term_i)). The classical remedy
    (Manning et al., IIR §1.3's process-in-increasing-frequency order,
    applied to positions): anchor candidate start positions on each
    phrase's MINIMUM-frequency term only — true hits must match that
    term at its offset, so restricting bases to its posting rows loses
    nothing — then verify the other offsets against only the candidate
    docs' postings. Candidates drop from Σ_i positions(term_i) to
    min_i positions(term_i).

    A phrase term absent from the corpus vocabulary has frequency 0:
    it becomes the gate, the candidate set is empty, and the phrase
    correctly reports no hits without touching any posting list.

    Scale shape: one vocab-sized frequency aggregation over the index
    (a stored statistic in a warehouse), the gate join fans out only
    the rarest term's postings, and verification keeps the unguarded
    path's map-side broadcast join (the posting scan is the floor cost
    either way) while the candidate-base inner join cuts the SHUFFLE +
    AGGREGATION volume — the super-linear component of the measured
    15.9x row — to ~min-frequency·plen rows. On a fully SATURATED
    vocabulary (min df ≈ max df) no gate can cut candidates by
    construction; the L-gram path (:func:`phrase_match_grams`) is the
    encoded answer there. Same output contract:
    (phrase_id, id, n_hits)."""
    from .similarity import _probe_is_small

    if postings is None:
        if docs is None:
            raise ValueError("need docs or a persisted positional postings frame")
        postings = positional_postings(docs, text_col, id_col)
    small = _probe_is_small(phrases, broadcast_max_queries)

    def _b(frame):
        return F.broadcast(frame) if small else frame

    pterms = phrases.select(
        F.col(phrase_id_col).alias("phrase_id"),
        F.posexplode(tokens_col(phrase_text_col)).alias("i", "tok"),
    ).select("phrase_id", F.col("i").cast("long").alias("i"), "tok")
    plen = pterms.groupBy("phrase_id").agg(
        F.count(F.lit(1)).cast("long").alias("plen")
    )
    # vocab-sized frequency statistic; absent terms count 0 and win the
    # min, correctly emptying the candidate set
    freq = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("pf"))
    wgate = Window.partitionBy("phrase_id").orderBy(
        F.col("pf").asc(), F.col("i").asc()
    )
    gate = (
        pterms.join(freq, "tok", "left")
        .withColumn("pf", F.coalesce(F.col("pf"), F.lit(0)))
        .withColumn("__r", F.row_number().over(wgate))
        .where(F.col("__r") == 1)
        .select("phrase_id", "i", "tok")
    )
    cand = (
        postings.join(_b(gate), "tok")
        .select("phrase_id", "id", (F.col("pos") - F.col("i")).alias("base"))
    )
    # verify: the SAME tok-gated posting stream the unguarded path
    # aggregates (map-side broadcast join — never a corpus shuffle, and
    # never a join back on bare id, which would multiply candidates by
    # doc length), but inner-joined against the gate-anchored bases
    # BEFORE the groupBy: the aggregation volume follows the rarest
    # term's posting list (~min-frequency·plen rows), not Σ_i
    # positions(term_i). AQE broadcasts the candidate frame when gating
    # made it small. Each offset agrees at most once per (doc, base),
    # so the agreement count reaches plen exactly on contiguous hits
    # (the phrase_match invariant).
    agree = (
        postings.join(_b(pterms), "tok")
        .select("phrase_id", "id", (F.col("pos") - F.col("i")).alias("base"))
        .join(cand, ["phrase_id", "id", "base"])
        .groupBy("phrase_id", "id", "base")
        .agg(F.count(F.lit(1)).alias("nm"))
    )
    return (
        agree.join(_b(plen), "phrase_id")
        .where(F.col("nm") == F.col("plen"))
        .groupBy("phrase_id", "id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        .orderBy("phrase_id", "id")
    )


_TOK_BUCKET_COL = "tbkt"


def tok_bucket_col(tok, n_buckets: int, seed: str = "swarm-tokbkt"):
    """int bucket id of a token — the hash-partitioning key for
    tok-bucketed index layouts (:func:`save_positional` with
    ``tok_buckets``, :func:`prune_tok_buckets`). Deterministic md5
    arithmetic, so build-time and probe-time bucketing always agree."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    c = F.col(tok) if isinstance(tok, str) else tok
    return (hash_bucket(c, seed) % n_buckets).cast("int")


def save_positional(
    postings: DataFrame, path: str, tok_buckets: int | None = None
) -> None:
    """Persist a :func:`positional_postings` index (one corpus-sized
    parquet table). Disjoint append-only waves fold in by writing with
    mode=append — rows are per-doc facts, union IS the merge.

    ``tok_buckets``: ALSO hash-partition the files by a bucket of
    ``tok`` (one directory per bucket). A probe then touches only its
    query terms' buckets (:func:`prune_tok_buckets` — Spark partition
    pruning at the file scan), so the scan cost of a lexical probe
    follows the query's vocabulary slice instead of the whole index —
    the layout lever for the scan-emission floor the SCALING.md
    phrase rows document. Appended waves must use the SAME bucket
    count/seed (the bucket of a token is layout identity, like the
    z-order key)."""
    import os

    if tok_buckets is None:
        postings.write.mode("overwrite").parquet(os.path.join(path, "postings"))
        return
    (
        postings.withColumn(
            _TOK_BUCKET_COL, tok_bucket_col(F.col("tok"), tok_buckets)
        )
        .write.mode("overwrite")
        .partitionBy(_TOK_BUCKET_COL)
        .parquet(os.path.join(path, "postings"))
    )


def load_positional(spark, path: str) -> DataFrame:
    """Read back a :func:`save_positional` index (embedded schema —
    any id type survives the round trip; a tok-bucketed layout's
    ``tbkt`` partition column rides along and is ignored by the
    probe joins)."""
    import os

    return spark.read.parquet(os.path.join(path, "postings"))


def prune_tok_buckets(
    postings: DataFrame,
    terms: DataFrame,
    n_buckets: int,
    term_col: str = "tok",
    seed: str = "swarm-tokbkt",
) -> DataFrame:
    """Restrict a tok-bucketed postings frame to the buckets the
    probe's terms hash into. The distinct bucket-id collect is bounded
    by ``n_buckets`` ints (metadata however large the batch), and the
    resulting IN-filter is a PARTITION filter at the parquet scan —
    whole bucket directories are never opened. Exact for any
    downstream equi-join on ``tok``: every row a term can match lives
    in that term's bucket. Returns the frame unchanged when the batch
    covers every bucket.

    Where it pays (SCALING.md r10/r11, measured both ways): the filter
    cuts the SCAN floor, so it wins where scans dominate — phrase
    probes (positions are the cost: 4.7× at 10×) and latency-path
    probes whose live vocabulary is small against ``n_buckets``. It
    does NOT help bulk keyword top-k batches: their wall is the
    candidate aggregation, and a batch whose union vocabulary covers
    every bucket degenerates to the identity fallback while still
    paying the collect and the n_buckets-way file layout (measured
    slower). Bucket-prune single queries, small bursts, and phrase
    verification; leave bulk ranking batches on the flat index."""
    bkts = sorted(
        r["b"]
        for r in terms.select(
            tok_bucket_col(F.col(term_col), n_buckets, seed).alias("b")
        )
        .distinct()
        .collect()
    )
    if len(bkts) >= n_buckets:
        return postings
    return postings.where(F.col(_TOK_BUCKET_COL).isin(bkts))


def phrase_match_grams(
    docs: DataFrame,
    phrases: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    phrase_id_col: str = "phrase_id",
    phrase_text_col: str = "text",
    broadcast_max_queries: int | None = 10_000,
) -> DataFrame:
    """:func:`phrase_match` semantics via the n-gram index instead of
    positional intersection — the SCALE PATH for short phrases. Each
    length-L phrase is one L-gram key; docs explode to their contiguous
    L-grams (one row per start position) and the phrase batch
    equi-joins that key, so candidates are EXACTLY the hits — zero
    verification work, where positional intersection pays one
    candidate row per (phrase term, matching position) and degrades
    toward |P|·positions/vocab on low-entropy corpora (measured 26.7×
    wall at 10× data on the saturated scale-probe vocab vs ~linear
    here; SCALING.md). Grams are built once per DISTINCT phrase
    length — the handful of lengths in a batch is driver-visible
    metadata (a bounded ``collect``, like the PQ subspace means).
    Positional intersection remains the general path: arbitrary
    lengths over one shared persisted index.

    Same output contract as :func:`phrase_match`: (phrase_id, id,
    n_hits), n_hits = number of starting positions."""
    from .similarity import _probe_is_small

    from .text import tokens_col

    small = _probe_is_small(phrases, broadcast_max_queries)
    ptoks = tokens_col(phrase_text_col)
    p = phrases.select(
        F.col(phrase_id_col).alias("phrase_id"),
        F.concat_ws(" ", ptoks).alias("gram"),
        F.size(ptoks).alias("plen"),
    )
    lens = sorted(
        r["plen"] for r in p.select("plen").distinct().collect()
    )  # bounded: distinct phrase lengths, not phrases
    if not lens:
        return p.select(
            "phrase_id",
            F.lit(None).cast(docs.schema[id_col].dataType).alias("id"),
            F.lit(0).cast("long").alias("n_hits"),
        ).where(F.lit(False))
    toks = tokens_col(text_col)
    parts = []
    for L in lens:
        grams = F.transform(
            F.sequence(F.lit(0), F.size(toks) - F.lit(L)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + F.lit(1), F.lit(L))),
        )
        d = (
            docs.where(F.size(toks) >= L)  # sequence(0, neg) would wrap
            .select(F.col(id_col).alias("id"), F.explode(grams).alias("gram"))
        )
        pl = p.where(F.col("plen") == L).select("phrase_id", "gram")
        parts.append(
            d.join(F.broadcast(pl) if small else pl, "gram")
            .groupBy("phrase_id", "id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out.orderBy("phrase_id", "id")
