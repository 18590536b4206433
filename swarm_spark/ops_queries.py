"""LLM-data-pipeline operator queries + DuckDB oracles.

Every dedup / similarity / text-analysis operator from
``swarm_spark.ops`` restated as a (Spark callable, DuckDB SQL) pair
over the driver's ``documents`` / ``embeddings`` tables. Portability
contract shared by both sides:

- tokenization: regex split on ``' +'``;
- hashing: md5 hex strings only (no 64-bit integer hash semantics to
  replicate across engines); min/comparisons at string level;
- float outputs are either derived from integers (jaccard, estimates)
  or sequential-fold dot products over double-cast arrays, rounded;
- counts cast to 64-bit on both sides.

Session-cache contract (r14 VERDICT #6): a few builders persist()
reused metadata-sized frames in-plan (`_kw_corpus`, the pruned
rankers' gate frames via ops/retrieval.py; `q_similarity_tfidf_pairs`
persists nothing). The bench and the plan tests clear the session cache
between samples; a LONG-LIVED embedding session that calls these
builders repeatedly must do the same (`spark.catalog.clearCache()`
between waves) or the CacheManager accumulates entries until session
end. Corpus-sized staging in the composed curation rows
(`q_corpus_curate_ccnet` / `q_corpus_curate_modern`) uses eager
localCheckpoint instead: nothing registers in the CacheManager, and
the blocks are context-cleaner-freed when the returned frame is
dropped.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import functions as F

from .ops.dedup import (
    embedding_dup_pairs,
    embedding_signlsh_pairs,
    exact_dup_stats,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    rademacher_planes,
    simhash,
    simhash_pairs_blocked,
)
from .ops.multimodal import attach_fake_image, media_features
from .ops.similarity import ann_topk_bruteforce, ann_topk_cells
from .ops.text import (
    fingerprint,
    language_id,
    normalize_text,
    pii_scrub,
    quality_score,
    repetition_signals,
    token_stats,
)
from .sources.tables import load_table


def _docs(spark, sf):
    return load_table(spark, sf, "documents")


def _emb(spark, sf):
    return load_table(spark, sf, "embeddings")


# shared oracle CTE fragments -------------------------------------------------
_WS = "SELECT doc_id, text, regexp_split_to_array(text, ' +') AS ws FROM documents"


def _shingle_cte(n: int, max_df: int | None = None) -> str:
    terms = "||' '||".join(f"ws[i+{k}]" for k in range(1, n + 1))
    base = (
        f"w AS ({_WS}), "
        f"e AS (SELECT doc_id, unnest(list_transform(range(greatest(len(ws)-{n - 1},0)), "
        f"i -> {terms})) AS sh FROM w), "
        f"s0 AS (SELECT DISTINCT doc_id, sh FROM e)"
    )
    if max_df is None:
        return base + ", s AS (SELECT * FROM s0)"
    # mirrors ops.dedup.prune_by_df: drop shingles with DF > cap
    return base + (
        f", s AS (SELECT s0.* FROM s0 JOIN (SELECT sh FROM s0 GROUP BY 1 "
        f"HAVING count(*) <= {max_df}) d USING (sh))"
    )


_MAX_DF = 100  # > any true dup-cluster size in the testdata (max DF is 25 at sf0.1)


def _hexval(col: str, start: int, n: int) -> str:
    """DuckDB fragment: parse ``n`` lowercase hex chars of ``col``
    beginning at 1-based ``start`` into a bigint."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr({col}, {start + i}, 1)) - 1) "
        f"* {16 ** (n - 1 - i)}"
        for i in range(n)
    )
    return f"cast({terms} AS bigint)"


def _md5_bucket_sql(key_expr: str, seed: str) -> str:
    """DuckDB mirror of ops.sampling.hash_bucket: first 8 hex digits of
    md5(seed|key) as a bigint (same instr-parse trick as _hexval)."""
    return _hexval(f"md5('{seed}|' || cast({key_expr} AS varchar))", 1, 8)


# ---------------------------------------------------------------- text ops
def q_text_token_stats(spark, sf):
    return token_stats(_docs(spark, sf)).orderBy("doc_id")


SQL_TOKEN_STATS = f"""
WITH w AS ({_WS})
SELECT doc_id,
       cast(len(ws) AS bigint) AS n_tokens,
       cast(length(text) AS bigint) AS n_chars,
       cast(list_sum(list_transform(ws, t -> cast(ceil(length(t)/4.0) AS bigint))) AS bigint)
           AS n_subwords,
       cast(len(list_distinct(ws)) AS bigint) AS n_distinct_tokens
FROM w ORDER BY doc_id
"""


def q_text_language_id(spark, sf):
    return language_id(_docs(spark, sf)).orderBy("doc_id")


_MARKER_SQL = {
    "en": "['the','a','fast','slow']",
    "de": "['der','die','und','schnell']",
    "fr": "['le','la','et','vite']",
    "es": "['el','la','y','rapido']",
    "zh": "['的','和','快','慢']",
}
_SCORES = ", ".join(
    f"cast(len(list_filter(ws, t -> list_contains({m}, t))) AS bigint) AS score_{lang}"
    for lang, m in _MARKER_SQL.items()
)
SQL_LANGUAGE_ID = f"""
WITH w AS ({_WS}),
sc AS (SELECT doc_id, {_SCORES} FROM w),
mx AS (SELECT *, greatest(score_en, score_de, score_fr, score_es, score_zh) AS best FROM sc)
SELECT doc_id, score_en, score_de, score_fr, score_es, score_zh,
       CASE WHEN best = 0 THEN 'und'
            WHEN score_en = best THEN 'en'
            WHEN score_de = best THEN 'de'
            WHEN score_fr = best THEN 'fr'
            WHEN score_es = best THEN 'es'
            ELSE 'zh' END AS pred_lang
FROM mx ORDER BY doc_id
"""


def q_text_quality(spark, sf):
    return quality_score(_docs(spark, sf)).orderBy("doc_id")


SQL_QUALITY = f"""
WITH w AS ({_WS}),
c AS (SELECT doc_id,
             cast(len(ws) AS bigint) AS n_tokens,
             cast(len(list_distinct(ws)) AS bigint) AS n_distinct,
             cast(len(list_filter(ws, t -> list_contains(['the','a','of','and','to','in'], t)))
                  AS bigint) AS n_stop
      FROM w)
SELECT doc_id, n_tokens, n_distinct, n_stop,
       round(0.4 * least(n_tokens/100.0, 1.0)
           + 0.3 * (n_distinct * 1.0 / n_tokens)
           + 0.3 * least(n_stop * 5.0 / n_tokens, 1.0), 6) AS quality
FROM c ORDER BY doc_id
"""


def q_text_fingerprint(spark, sf):
    return fingerprint(_docs(spark, sf)).orderBy("doc_id")


SQL_FINGERPRINT = f"""
WITH w AS ({_WS})
SELECT doc_id,
       list_min(list_transform(
           list_transform(range(greatest(len(ws)-4, 0)),
                          i -> ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5]),
           s -> md5(s))) AS fp
FROM w ORDER BY doc_id
"""


def q_text_normalize(spark, sf):
    return normalize_text(_docs(spark, sf)).orderBy("doc_id")


SQL_NORMALIZE = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS norm_text
  FROM documents)
SELECT doc_id, norm_text, md5(norm_text) AS norm_hash FROM n ORDER BY doc_id
"""


def q_text_repetition(spark, sf):
    return repetition_signals(_docs(spark, sf)).orderBy("doc_id")


SQL_REPETITION = f"""
WITH w AS ({_WS}),
ids AS (SELECT doc_id,
               cast(len(ws) AS bigint) AS n_tokens,
               cast(len(list_distinct(ws)) AS bigint) AS n_distinct
        FROM w),
g AS (SELECT doc_id,
             unnest(list_transform(range(greatest(len(ws)-1, 0)),
                                   i -> ws[i+1]||' '||ws[i+2])) AS g
      FROM w),
c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
agg AS (SELECT doc_id, cast(sum(c) AS bigint) AS n_grams,
               cast(max(c) AS bigint) AS top_gram_n
        FROM c GROUP BY 1)
SELECT ids.doc_id, n_tokens, n_grams, top_gram_n,
       round(top_gram_n * 1.0 / n_grams, 6) AS top_gram_frac,
       round(1.0 - n_distinct * 1.0 / n_tokens, 6) AS dup_token_frac
FROM ids LEFT JOIN agg USING (doc_id) ORDER BY doc_id
"""


def q_text_pii_scrub(spark, sf):
    """PII redaction exercised end to end: the corpus text carries no
    PII, so each doc is seeded with a deterministic synthetic email /
    IP / phone derived from its id — then scrubbed. Counts + the md5
    of the scrubbed text hash-check extraction AND replacement."""
    docs = _docs(spark, sf)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" tel 555-123-4567"),
        ).alias("text"),
    )
    out = pii_scrub(seeded)
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.md5("scrubbed").alias("scrub_hash"),
    ).orderBy("doc_id")


SQL_PII_SCRUB = r"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact u' || cast(doc_id AS varchar)
              || '@example.com ip 10.0.0.' || cast(doc_id % 256 AS varchar)
              || ' tel 555-123-4567' AS text
  FROM documents
), s AS (
  SELECT doc_id,
         cast(len(regexp_extract_all(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS bigint) AS n_email,
         cast(len(regexp_extract_all(text,
              '\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) AS bigint) AS n_phone,
         cast(len(regexp_extract_all(text,
              '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS bigint) AS n_ipv4,
         regexp_replace(
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
           '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IPV4>', 'g') AS scrubbed
  FROM seeded
)
SELECT doc_id, n_email, n_phone, n_ipv4, md5(scrubbed) AS scrub_hash
FROM s ORDER BY doc_id
"""


# ---------------------------------------------------------------- dedup ops
def q_dedup_exact(spark, sf):
    return exact_dup_stats(_docs(spark, sf))


SQL_DEDUP_EXACT = (
    "SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique FROM documents"
)


def q_dedup_ngram_jaccard(spark, sf):
    # DF-pruned candidate join (the 100-TB shape); cap mirrored in SQL
    return ngram_jaccard_pairs(_docs(spark, sf), threshold=0.8, max_df=_MAX_DF)


SQL_NGRAM_JACCARD = f"""
WITH {_shingle_cte(3, _MAX_DF)},
sz AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY 1),
i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b, inter,
       x.n_sh + y.n_sh - inter AS un,
       round(inter * 1.0 / (x.n_sh + y.n_sh - inter), 6) AS jaccard
FROM i JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE round(inter * 1.0 / (x.n_sh + y.n_sh - inter), 6) >= 0.8
ORDER BY doc_a, doc_b
"""


def q_dedup_minhash_lsh(spark, sf):
    return minhash_lsh_pairs(_docs(spark, sf), num_perm=12, bands=4, max_df=_MAX_DF)


SQL_MINHASH_LSH = f"""
WITH {_shingle_cte(3, _MAX_DF)},
sig AS (SELECT doc_id, p.perm, min(md5(cast(p.perm AS varchar)||'|'||sh)) AS sig
        FROM s, (SELECT unnest(range(12)) AS perm) p GROUP BY 1, 2),
sigs AS (SELECT doc_id, array_agg(sig ORDER BY perm) AS sigs FROM sig GROUP BY 1),
banded AS (SELECT doc_id, sigs, b.band,
                  md5(array_to_string(sigs[b.band*3+1 : b.band*3+3], '|')) AS key
           FROM sigs, (SELECT unnest(range(4)) AS band) b),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 cast(count(DISTINCT a.band) AS bigint) AS shared_bands,
                 any_value(a.sigs) AS sa, any_value(b.sigs) AS sb
          FROM banded a JOIN banded b
            ON a.key = b.key AND a.band = b.band AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b, shared_bands,
       round(list_sum(list_transform(range(12),
             i -> CASE WHEN sa[i+1] = sb[i+1] THEN 1 ELSE 0 END)) / 12.0, 6) AS est_jaccard
FROM pairs ORDER BY doc_a, doc_b
"""


def q_dedup_clusters(spark, sf):
    """Transitive duplicate clusters: jaccard pairs (≥0.8) → connected
    components (min-reachable-id labels)."""
    from .ops.components import dup_components

    pairs = ngram_jaccard_pairs(_docs(spark, sf), threshold=0.8, max_df=_MAX_DF)
    return dup_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("component")
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_shingle_cte(3, _MAX_DF)},
sz AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY 1),
i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
p AS (SELECT doc_a, doc_b FROM i JOIN sz x ON doc_a = x.doc_id
      JOIN sz y ON doc_b = y.doc_id
      WHERE round(inter * 1.0 / (x.n_sh + y.n_sh - inter), 6) >= 0.8),
ed AS (SELECT doc_a AS src, doc_b AS dst FROM p
       UNION SELECT doc_b, doc_a FROM p),
n AS (SELECT DISTINCT src AS id FROM ed),
reach AS (
    SELECT id, id AS r FROM n
    UNION
    SELECT reach.id, ed.dst AS r FROM reach JOIN ed ON reach.r = ed.src
)
SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY 1 ORDER BY 1
"""


def q_dedup_keep_one(spark, sf):
    """End-to-end near-dup resolution: jaccard pairs (≥0.8) →
    connected components → drop all but the lowest-id member of every
    cluster; docs in no pair pass through. Returns the surviving ids."""
    from .ops.components import keep_one_per_cluster

    docs = _docs(spark, sf)
    pairs = ngram_jaccard_pairs(docs, threshold=0.8, max_df=_MAX_DF)
    return keep_one_per_cluster(docs, pairs).select("doc_id").orderBy("doc_id")


def q_dedup_keep_best(spark, sf):
    """Quality-aware near-dup resolution: the same jaccard clusters as
    ``dedup_keep_one``, but every cluster keeps its HIGHEST-quality
    member (heuristic permille score; ties -> lowest id) — the
    survivor policy a production pass wants when boilerplate collides
    with its well-formed original."""
    from .ops.components import keep_best_per_cluster
    from .ops.text import quality_expr

    docs = _docs(spark, sf).withColumn(
        "q_perm", F.round(quality_expr("text") * 1000).cast("long")
    )
    pairs = ngram_jaccard_pairs(docs, threshold=0.8, max_df=_MAX_DF)
    return (
        keep_best_per_cluster(docs, pairs, "q_perm")
        .select("doc_id", "q_perm")
        .orderBy("doc_id")
    )


# the SQL_DEDUP_CLUSTERS chain, resolved to (max quality, min id)
# survivors; quality is the SQL_QUALITY_GATE permille arithmetic
SQL_DEDUP_KEEP_BEST = SQL_DEDUP_CLUSTERS.replace(
    "SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY 1 ORDER BY 1",
    """, comp AS (SELECT id, min(r) AS component FROM reach GROUP BY 1),
qw AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents),
qc AS (SELECT doc_id,
              cast(len(ws) AS bigint) AS n_tokens,
              cast(len(list_distinct(ws)) AS bigint) AS n_distinct,
              cast(len(list_filter(ws,
                   t -> list_contains(['the','a','of','and','to','in'], t)))
                   AS bigint) AS n_stop
       FROM qw),
qs AS (SELECT doc_id,
              cast(round(round(0.4 * least(n_tokens/100.0, 1.0)
                  + 0.3 * (n_distinct * 1.0 / n_tokens)
                  + 0.3 * least(n_stop * 5.0 / n_tokens, 1.0), 6) * 1000)
                   AS bigint) AS q
       FROM qc),
sc AS (SELECT comp.id, comp.component, qs.q FROM comp
       JOIN qs ON comp.id = qs.doc_id),
bestq AS (SELECT component, max(q) AS bq FROM sc GROUP BY 1),
win AS (SELECT sc.component, min(sc.id) AS wid FROM sc
        JOIN bestq USING (component) WHERE sc.q = bestq.bq GROUP BY 1),
losers AS (SELECT sc.id FROM sc JOIN win USING (component)
           WHERE sc.id != win.wid)
SELECT d.doc_id, qs.q AS q_perm
FROM documents d JOIN qs ON d.doc_id = qs.doc_id
LEFT JOIN losers l ON d.doc_id = l.id
WHERE l.id IS NULL ORDER BY d.doc_id""",
)


# same recursive-CC chain as SQL_DEDUP_CLUSTERS, resolved to survivors
SQL_DEDUP_KEEP_ONE = SQL_DEDUP_CLUSTERS.replace(
    "SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY 1 ORDER BY 1",
    """, comp AS (SELECT id, min(r) AS component FROM reach GROUP BY 1),
losers AS (SELECT id FROM comp WHERE id != component)
SELECT d.doc_id FROM documents d LEFT JOIN losers l ON d.doc_id = l.id
WHERE l.id IS NULL ORDER BY d.doc_id""",
)


def q_dedup_simhash(spark, sf):
    return simhash(_docs(spark, sf), bits=32).orderBy("doc_id")


def _simhash_cte(bits: int) -> str:
    """tf-weighted SimHash in DuckDB, any width up to 62 bits: bit b
    lives in hex digit b//4 of md5 (32 hex digits cover b ≤ 127), and
    pow(2, b) is a power of two — exact in a double — so the bigint
    pack is lossless for b ≤ 62."""
    return f"""
w AS ({_WS}),
t AS (SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS tok FROM w) GROUP BY 1, 2),
th AS (SELECT doc_id, tf, md5(tok) AS h FROM t),
bt AS (SELECT doc_id, b.b AS b,
              sum(tf * (2 * (cast(floor((instr('0123456789abcdef',
                      substr(h, cast(b.b // 4 AS int) + 1, 1)) - 1)
                  / (CASE cast(b.b % 4 AS int) WHEN 0 THEN 1 WHEN 1 THEN 2
                     WHEN 2 THEN 4 ELSE 8 END)) AS int) % 2) - 1)) AS s
       FROM th, (SELECT unnest(range({bits})) AS b) b GROUP BY 1, 2),
sh AS (SELECT doc_id,
              cast(sum(CASE WHEN s > 0 THEN cast(pow(2, b) AS bigint) ELSE 0 END) AS bigint)
                  AS simhash
       FROM bt GROUP BY 1)
"""


_SIMHASH_CTE = _simhash_cte(32)
SQL_SIMHASH = f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sh ORDER BY doc_id"


def q_dedup_simhash_pairs(spark, sf):
    # blocked variant: pigeonhole candidate generation replaces the
    # O(n²) cross join, with bit-identical output (tests pin equality)
    return simhash_pairs_blocked(_docs(spark, sf), bits=32, max_hamming=2)


SQL_SIMHASH_PAIRS = f"""
WITH {_SIMHASH_CTE}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.simhash, b.simhash)) AS bigint) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
ORDER BY doc_a, doc_b
"""


def q_dedup_simhash64_pairs(spark, sf):
    """Wide-sketch near-dup pairs: 62-bit SimHash, Hamming ≤ 3. The
    scale default — at ≫10⁶ docs a 32-bit sketch's ~11-bit pigeonhole
    blocks saturate (2¹¹ distinct values), while 62/4 ≈ 15-bit blocks
    of a wide sketch keep candidate volume super-linearly lower. Same
    blocked plan shape: one slim (doc_id, block, value) shuffle."""
    return simhash_pairs_blocked(_docs(spark, sf), bits=62, max_hamming=3)


SQL_SIMHASH64_PAIRS = f"""
WITH {_simhash_cte(62)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.simhash, b.simhash)) AS bigint) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b
"""


def q_corpus_vocab(spark, sf):
    """Top-25 token-frequency table with cumulative coverage — the
    vocabulary-building pre-step over the corpus."""
    from .ops.text import vocab_stats

    return vocab_stats(_docs(spark, sf), top_k=25)


SQL_CORPUS_VOCAB = f"""
WITH w AS ({_WS}),
c AS (SELECT tok, count(*) AS count
      FROM (SELECT unnest(ws) AS tok FROM w) GROUP BY 1),
tot AS (SELECT cast(sum(count) AS bigint) AS tot FROM c),
r AS (SELECT tok AS token, count,
             cast(row_number() OVER (ORDER BY count DESC, tok) AS bigint) AS rank,
             cast(sum(count) OVER (ORDER BY count DESC, tok
                  ROWS UNBOUNDED PRECEDING) AS bigint) AS cum
      FROM c)
SELECT token, count, rank, round(cum * 1.0 / tot, 6) AS cum_share
FROM r, tot WHERE rank <= 25 ORDER BY rank
"""


def q_corpus_vocab_incremental(spark, sf):
    """Incremental vocabulary maintenance invariant, hash-checked:
    fold wave B's token counts into the STORED counts of wave A (a
    hash split of the corpus) and report the top-40 — byte-identical
    to a full recompute (the oracle), because counts form a
    commutative monoid. The property that lets a 100-TB warehouse
    keep vocab stats current without ever rescanning the corpus."""
    from .ops.sampling import hash_bucket
    from .ops.text import vocab_counts, vocab_merge, vocab_report

    docs = _docs(spark, sf)
    b = hash_bucket("doc_id", "swarm-vmerge") % 2
    stored = vocab_counts(docs.where(b == 0))
    merged = vocab_merge(stored, vocab_counts(docs.where(b == 1)))
    return vocab_report(merged, top_k=40)


SQL_VOCAB_INCR = SQL_CORPUS_VOCAB.replace("rank <= 25", "rank <= 40")


def q_corpus_vocab_drift(spark, sf):
    """Corpus drift gate: Jensen–Shannon divergence between the stored
    vocabulary distribution (even-doc_id half) and an ingest wave's
    (odd half), in integer micro-nats — the number a pipeline checks
    before folding a wave in (a drifted wave means the source changed).
    Runs on the SAME (tok, cnt) frames vocab_merge maintains — the
    corpora are never rescanned for the check."""
    from .ops.text import vocab_counts, vocab_js_divergence

    docs = _docs(spark, sf)
    stored = vocab_counts(docs.where(F.col("doc_id") % 2 == 0))
    wave = vocab_counts(docs.where(F.col("doc_id") % 2 == 1))
    return vocab_js_divergence(stored, wave)


SQL_VOCAB_DRIFT = """
WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(text, ' +')) AS tok
           FROM documents),
a AS (SELECT tok, cast(count(*) AS bigint) AS ca FROM w
      WHERE doc_id % 2 = 0 GROUP BY 1),
b AS (SELECT tok, cast(count(*) AS bigint) AS cb FROM w
      WHERE doc_id % 2 = 1 GROUP BY 1),
j AS (SELECT coalesce(a.ca, 0) AS ca, coalesce(b.cb, 0) AS cb
      FROM a FULL JOIN b USING (tok)),
t AS (SELECT cast(sum(ca) AS bigint) AS ta, cast(sum(cb) AS bigint) AS tb
      FROM j),
k AS (SELECT t.ta, t.tb,
        cast(sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS bigint) AS va,
        cast(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS bigint) AS vb,
        cast(count(*) AS bigint) AS vu,
        cast(sum(CASE WHEN ca > 0 THEN
            round(1000000 * (ca / cast(t.ta AS double))
                  * ln((ca / cast(t.ta AS double))
                       / (((ca / cast(t.ta AS double))
                           + (cb / cast(t.tb AS double))) / 2)))
            ELSE 0 END) AS bigint)
        + cast(sum(CASE WHEN cb > 0 THEN
            round(1000000 * (cb / cast(t.tb AS double))
                  * ln((cb / cast(t.tb AS double))
                       / (((ca / cast(t.ta AS double))
                           + (cb / cast(t.tb AS double))) / 2)))
            ELSE 0 END) AS bigint) AS s
      FROM j, t GROUP BY 1, 2)
SELECT ta AS tokens_stored, tb AS tokens_wave, va AS vocab_stored,
       vb AS vocab_wave, vu AS vocab_union,
       cast(greatest(0, (s + 1) // 2) AS bigint) AS js_micro
FROM k
"""


# -------------------------------------------------- corpus curation e2e
def q_corpus_length_hist(spark, sf):
    """Pre-packing corpus length report: 128-token buckets with
    per-bucket doc/token counts and bounds (integral bucket math —
    engine-exact)."""
    from .ops.text import length_histogram

    return length_histogram(_docs(spark, sf), bucket_tokens=128)


SQL_CORPUS_LENGTH_HIST = f"""
WITH w AS ({_WS}),
n AS (SELECT cast(len(ws) AS bigint) AS n FROM w WHERE len(ws) > 0)
SELECT n // 128 AS bucket,
       cast(count(*) AS bigint) AS n_docs,
       cast(sum(n) AS bigint) AS n_tokens,
       cast(min(n) AS bigint) AS min_tokens,
       cast(max(n) AS bigint) AS max_tokens
FROM n GROUP BY 1 ORDER BY 1
"""


def q_corpus_curate(spark, sf):
    """The operators composed as one curation pass — what a real
    training-data pipeline runs: exact dedup -> quality gate ->
    language filter -> deterministic train/val/test assignment.

    Scale shape: ONE corpus scan and ONE exchange (the dedup digest
    groupBy). Quality, language, and split are pure per-row expressions
    (`quality_expr` / `language_pred_expr` / `split_column`), so they
    ride a single projection after the dedup instead of re-deriving the
    corpus per stage and joining back — zero joins in the plan
    (pinned by tests/test_plans.py)."""
    from .ops.dedup import exact_dedup_text
    from .ops.sampling import split_column
    from .ops.text import language_pred_expr, quality_expr

    docs = exact_dedup_text(_docs(spark, sf))
    return (
        docs.select(
            "doc_id",
            quality_expr("text").alias("quality"),
            language_pred_expr("text").alias("pred_lang"),
        )
        .where((F.col("quality") >= 0.5) & (F.col("pred_lang") == "en"))
        .withColumn("split", split_column("doc_id"))
        .orderBy("doc_id")
    )


_SPLIT_TEST_CUT = int(0.1 * (1 << 32))
_SPLIT_VAL_CUT = _SPLIT_TEST_CUT + int(0.1 * (1 << 32))
SQL_CORPUS_CURATE = f"""
WITH keep AS (SELECT min(doc_id) AS doc_id
              FROM (SELECT doc_id, md5(text) AS h FROM documents) GROUP BY h),
w AS ({_WS}),
q AS (SELECT doc_id,
             round(0.4 * least(cast(len(ws) AS bigint)/100.0, 1.0)
                 + 0.3 * (cast(len(list_distinct(ws)) AS bigint) * 1.0
                          / cast(len(ws) AS bigint))
                 + 0.3 * least(cast(len(list_filter(ws,
                       t -> list_contains(['the','a','of','and','to','in'], t)))
                       AS bigint) * 5.0 / cast(len(ws) AS bigint), 1.0), 6)
                 AS quality
      FROM w),
sc AS (SELECT doc_id, {_SCORES} FROM w),
mx AS (SELECT *, greatest(score_en, score_de, score_fr, score_es, score_zh) AS best
       FROM sc),
l AS (SELECT doc_id,
             CASE WHEN best = 0 THEN 'und'
                  WHEN score_en = best THEN 'en'
                  WHEN score_de = best THEN 'de'
                  WHEN score_fr = best THEN 'fr'
                  WHEN score_es = best THEN 'es'
                  ELSE 'zh' END AS pred_lang
      FROM mx),
sp AS (SELECT doc_id,
              CASE WHEN b < {_SPLIT_TEST_CUT} THEN 'test'
                   WHEN b < {_SPLIT_VAL_CUT} THEN 'val'
                   ELSE 'train' END AS split
       FROM (SELECT doc_id, {_md5_bucket_sql('doc_id', 'swarm-split')} AS b
             FROM documents))
SELECT k.doc_id, q.quality, l.pred_lang, sp.split
FROM keep k
JOIN q ON k.doc_id = q.doc_id
JOIN l ON k.doc_id = l.doc_id
JOIN sp ON k.doc_id = sp.doc_id
WHERE q.quality >= 0.5 AND l.pred_lang = 'en'
ORDER BY k.doc_id
"""


# ----------------------------------------------- boilerplate / leakage ops
def q_text_strip_segments(spark, sf):
    """Cross-document repeated-segment removal (RefinedWeb/C4-style
    boilerplate filter). The synthetic corpus has no newlines, so the
    demo query segments on single spaces with a high frequency cap —
    same operator, degenerate delimiter; real corpora pass '\\n'."""
    from .ops.text import strip_repeated_segments

    return strip_repeated_segments(
        _docs(spark, sf), delim=" ", max_df=900
    ).orderBy("doc_id")


SQL_STRIP_SEGMENTS = """
WITH segs AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS seg,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents),
k AS (SELECT doc_id, seg, pos, count(*) OVER (PARTITION BY seg) AS df FROM segs),
r AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text
      FROM k WHERE df <= 900 GROUP BY doc_id)
SELECT d.doc_id, coalesce(r.text, '') AS text
FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id ORDER BY d.doc_id
"""

_BENCH_CUT = int(0.1 * (1 << 32))


def q_text_decontaminate(spark, sf):
    """Benchmark decontamination: 10% of the corpus (deterministic
    hash split) plays the eval set; every remaining doc is scored for
    distinct leaked 5-grams."""
    from .ops.dedup import decontaminate
    from .ops.sampling import hash_bucket

    docs = _docs(spark, sf)
    b = hash_bucket("doc_id", "swarm-bench")
    bench = docs.where(b < _BENCH_CUT)
    train = docs.where(b >= _BENCH_CUT)
    return decontaminate(train, bench, n=5).orderBy("doc_id")


_G5 = (
    "unnest(list_transform(range(greatest(len(ws)-4, 0)), "
    "i -> md5(ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5])))"
)
SQL_DECONTAMINATE = f"""
WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS ws,
                  {_md5_bucket_sql('doc_id', 'swarm-bench')} AS bkt
           FROM documents),
g AS (SELECT DISTINCT doc_id, bkt, h
      FROM (SELECT doc_id, bkt, {_G5} AS h FROM w)),
bench AS (SELECT DISTINCT h FROM g WHERE bkt < {_BENCH_CUT}),
hits AS (SELECT g.doc_id, count(DISTINCT g.h) AS n_hits
         FROM g JOIN bench USING (h) WHERE g.bkt >= {_BENCH_CUT} GROUP BY 1)
SELECT w.doc_id, cast(coalesce(t.n_hits, 0) AS bigint) AS n_hits,
       coalesce(t.n_hits, 0) > 0 AS contaminated
FROM w LEFT JOIN hits t ON w.doc_id = t.doc_id
WHERE w.bkt >= {_BENCH_CUT} ORDER BY w.doc_id
"""


# ------------------------------------------------------------ packing ops
def q_pack_chunks(spark, sf):
    """Concat-and-chunk sequence packing (512-token windows) — the
    GPT-style pretraining layout, built on a two-phase distributed
    prefix sum (no global single-partition sort)."""
    from .ops.packing import pack_concat_chunks

    return pack_concat_chunks(_docs(spark, sf), capacity=512)


SQL_PACK_CHUNKS = f"""
WITH w AS ({_WS}),
c AS (SELECT doc_id, cast(len(ws) AS bigint) AS n_tok FROM w WHERE len(ws) > 0),
s AS (SELECT doc_id, n_tok,
             cast(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  AS bigint) AS e
      FROM c),
x AS (SELECT doc_id, n_tok, e - n_tok AS st, e,
             unnest(range((e - n_tok) // 512, (e - 1) // 512 + 1)) AS window_id
      FROM s)
SELECT doc_id, n_tok, window_id,
       cast(greatest(st, window_id * 512) - window_id * 512 AS bigint) AS off,
       cast(least(e, (window_id + 1) * 512)
            - greatest(st, window_id * 512) AS bigint) AS take
FROM x ORDER BY doc_id, window_id
"""


def q_pack_bins_report(spark, sf):
    """Packing-efficiency report — THE padding metric a pretraining
    pipeline watches: bin count, packed tokens, oversize bins, and
    utilization in integral ppm (tokens / (bins × capacity); oversize
    single-doc bins can push a bin past capacity, so > 1e6 is
    possible). One extra metadata-sized aggregation over the greedy
    packing."""
    from .ops.packing import pack_greedy_bins

    packed = pack_greedy_bins(_docs(spark, sf), capacity=512, num_buckets=8)
    g = packed.groupBy("bucket", "bin_id").agg(
        F.sum("n_tok").alias("bin_tok"),
        F.max(F.col("oversize").cast("int")).alias("ov"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("bin_tok").cast("long").alias("total_tokens"),
        F.sum("ov").cast("long").alias("oversize_bins"),
    ).select(
        "n_bins",
        "total_tokens",
        "oversize_bins",
        F.expr("total_tokens * 1000000 div (n_bins * 512)").alias("util_ppm"),
    )


def q_pack_shards(spark, sf):
    """Balanced training-shard assignment (16 shards): each document
    lands in the shard its global token interval starts in, shard
    capacity = ceil(total/16) — token-balanced to within one document,
    deterministic, no extra shuffle beyond the packing prefix sum."""
    from .ops.packing import shard_assignments

    return shard_assignments(_docs(spark, sf), n_shards=16)


SQL_PACK_SHARDS = f"""
WITH w AS ({_WS}),
t AS (SELECT doc_id, cast(len(ws) AS bigint) AS n_tok FROM w
      WHERE len(ws) > 0),
c AS (SELECT doc_id, n_tok,
             cast(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - n_tok AS bigint) AS s
      FROM t),
tot AS (SELECT cast(sum(n_tok) AS bigint) AS tt FROM t)
SELECT c.doc_id, c.n_tok,
       cast(c.s // ((tot.tt + 15) // 16) AS bigint) AS shard
FROM c, tot ORDER BY c.doc_id
"""


def q_pack_bins(spark, sf):
    """Greedy no-split bin packing (512-token bins, 8 deterministic
    hash buckets): first-fit-sequential per bucket; the sequential
    fill state runs in one applyInPandas pass per bucket, mirrored by
    a recursive-CTE walk in the oracle."""
    from .ops.packing import pack_greedy_bins

    return pack_greedy_bins(_docs(spark, sf), capacity=512, num_buckets=8)


SQL_PACK_BINS = f"""
WITH RECURSIVE w AS ({_WS}),
c AS (SELECT doc_id, cast(len(ws) AS bigint) AS n_tok,
             cast({_md5_bucket_sql('doc_id', 'swarm-pack')} % 8 AS int) AS bucket
      FROM w WHERE len(ws) > 0),
seq AS (SELECT doc_id, n_tok, bucket,
               row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
        FROM c),
walk AS (
  SELECT bucket, rn, doc_id, n_tok, cast(0 AS bigint) AS bin_id, n_tok AS fill
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.bucket, s.rn, s.doc_id, s.n_tok,
         CASE WHEN wk.fill + s.n_tok <= 512 THEN wk.bin_id ELSE wk.bin_id + 1 END,
         CASE WHEN wk.fill + s.n_tok <= 512 THEN wk.fill + s.n_tok ELSE s.n_tok END
  FROM walk wk JOIN seq s ON s.bucket = wk.bucket AND s.rn = wk.rn + 1
)
SELECT doc_id, n_tok, bucket, bin_id, fill, n_tok > 512 AS oversize
FROM walk ORDER BY doc_id
"""


SQL_PACK_BINS_REPORT = SQL_PACK_BINS.replace(
    """SELECT doc_id, n_tok, bucket, bin_id, fill, n_tok > 512 AS oversize
FROM walk ORDER BY doc_id""",
    """, fin AS (SELECT bucket, bin_id, cast(sum(n_tok) AS bigint) AS bin_tok,
              max(CASE WHEN n_tok > 512 THEN 1 ELSE 0 END) AS ov
       FROM walk GROUP BY 1, 2)
SELECT cast(count(*) AS bigint) AS n_bins,
       cast(sum(bin_tok) AS bigint) AS total_tokens,
       cast(sum(ov) AS bigint) AS oversize_bins,
       cast(sum(bin_tok) * 1000000 // (count(*) * 512) AS bigint) AS util_ppm
FROM fin""",
)




def q_dedup_embedding(spark, sf):
    return embedding_dup_pairs(_emb(spark, sf), threshold=0.40)


_DDOT = "list_dot_product(cast({a} AS double[]), cast({b} AS double[]))"
_COS_AB = (
    f"round({_DDOT.format(a='a.embedding', b='b.embedding')}"
    f" / sqrt({_DDOT.format(a='a.embedding', b='a.embedding')}"
    f" * {_DDOT.format(a='b.embedding', b='b.embedding')}), 9)"
)
SQL_DEDUP_EMBEDDING = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS cell, {_COS_AB} AS cos
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_COS_AB} >= 0.40
ORDER BY id_a, id_b
"""


# ------------------------------------------------------- embedding sign-LSH
_SIGN_PLANES = 16
_SIGN_BANDS = 4
_SIGN_DIM = 64


def q_dedup_embedding_signlsh(spark, sf):
    return embedding_signlsh_pairs(
        _emb(spark, sf),
        num_planes=_SIGN_PLANES,
        bands=_SIGN_BANDS,
        threshold=0.40,
        dim=_SIGN_DIM,
    )


def _signlsh_sql() -> str:
    planes = rademacher_planes(_SIGN_PLANES, _SIGN_DIM)
    r = _SIGN_PLANES // _SIGN_BANDS
    sign_cols = ", ".join(
        "CASE WHEN list_dot_product(v, ["
        + ", ".join(f"{s}.0" for s in planes[p])
        + f"]) > 0 THEN 1 ELSE 0 END AS s{p}"
        for p in range(_SIGN_PLANES)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT id, {b} AS band, "
        + "||".join(f"cast(s{b * r + i} AS varchar)" for i in range(r))
        + " AS key FROM s"
        for b in range(_SIGN_BANDS)
    )
    cos = (
        "round(list_dot_product(va.v, vb.v)"
        " / sqrt(va.n2 * vb.n2), 9)"
    )
    return f"""
WITH e AS (SELECT vec_id AS id, cast(embedding AS double[]) AS v FROM embeddings),
s AS (SELECT id, v, {sign_cols} FROM e),
b AS ({band_rows}),
p AS (SELECT x.id AS id_a, y.id AS id_b,
             cast(count(DISTINCT x.band) AS bigint) AS shared_bands
      FROM b x JOIN b y ON x.band = y.band AND x.key = y.key AND x.id < y.id
      GROUP BY 1, 2),
nv AS (SELECT id, v, list_dot_product(v, v) AS n2 FROM e)
SELECT p.id_a, p.id_b, p.shared_bands, {cos} AS cos
FROM p JOIN nv va ON p.id_a = va.id JOIN nv vb ON p.id_b = vb.id
WHERE {cos} >= 0.40
ORDER BY id_a, id_b
"""


SQL_DEDUP_EMBEDDING_SIGNLSH = _signlsh_sql()


def q_dedup_incremental(spark, sf):
    """Increment-vs-corpus dedup: a deterministic 50% hash split plays
    the accumulated corpus; the other half is the incoming batch. Each
    new doc is flagged for exact (md5) and near (winnowing
    fingerprint) duplication against the corpus — per-doc boolean
    rows, fully hash-checked."""
    from .ops.dedup import incremental_dup_flags
    from .ops.sampling import hash_bucket

    docs = _docs(spark, sf)
    cut = int(0.5 * (1 << 32))
    b = hash_bucket("doc_id", "swarm-corpus")
    corpus = docs.where(b < cut)
    new = docs.where(b >= cut)
    return incremental_dup_flags(new, corpus).orderBy("doc_id")


_FP5 = (
    "list_min(list_transform("
    "list_transform(range(greatest(len(ws)-4, 0)), "
    "i -> ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5]), "
    "s -> md5(s)))"
)
SQL_DEDUP_INCREMENTAL = f"""
WITH w AS (SELECT doc_id, text, regexp_split_to_array(text, ' +') AS ws,
                  {_md5_bucket_sql('doc_id', 'swarm-corpus')} AS bkt
           FROM documents),
d AS (SELECT doc_id, bkt, md5(text) AS h, {_FP5} AS fp FROM w),
corp AS (SELECT h, fp FROM d WHERE bkt < {int(0.5 * (1 << 32))}),
newd AS (SELECT doc_id, h, fp FROM d WHERE bkt >= {int(0.5 * (1 << 32))})
SELECT doc_id,
       h IN (SELECT h FROM corp) AS exact_dup,
       coalesce(fp IN (SELECT fp FROM corp WHERE fp IS NOT NULL), false) AS fp_dup
FROM newd ORDER BY doc_id
"""


# ------------------------------------------------------------- similarity ops
def q_ann_topk_bruteforce(spark, sf):
    emb = _emb(spark, sf)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return ann_topk_bruteforce(emb, queries, k=5)


_QCOS = (
    "round(list_dot_product(qv, cv)"
    " / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)), 9)"
)
SQL_ANN_BRUTEFORCE = f"""
WITH q AS (SELECT vec_id AS query_id, cast(embedding AS double[]) AS qv
           FROM embeddings WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS id, cast(embedding AS double[]) AS cv FROM embeddings),
j AS (SELECT query_id, id, {_QCOS} AS cos FROM c, q WHERE query_id != id),
r AS (SELECT query_id, id, cos,
             cast(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS bigint)
                 AS rank
      FROM j)
SELECT query_id, id, cos, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ann_topk_cells(spark, sf):
    emb = _emb(spark, sf)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return ann_topk_cells(emb, queries, k=5)


SQL_ANN_CELLS = f"""
WITH q AS (SELECT vec_id AS query_id, label AS cell, cast(embedding AS double[]) AS qv
           FROM embeddings WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS id, label AS cell, cast(embedding AS double[]) AS cv FROM embeddings),
j AS (SELECT query_id, id, {_QCOS} AS cos
      FROM c JOIN q USING (cell) WHERE query_id != id),
r AS (SELECT query_id, id, cos,
             cast(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS bigint)
                 AS rank
      FROM j)
SELECT query_id, id, cos, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ann_topk_ivf(spark, sf):
    """Learned-IVF ANN (k-means cells, nprobe=4 of 8): same output
    contract as brute force with a fractional corpus scan. Fully
    oracle-hashable: every Lloyd mean is rounded to 9 decimal digits
    at the driver (ops/ivf.py), which absorbs float-sum-order ulp
    noise, so the identical unrolled k-means in DuckDB SQL
    (``_ivf_oracle_sql``) reproduces the exact cell layout and
    ranking."""
    from .ops.ivf import ann_topk_ivf

    emb = _emb(spark, sf)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return ann_topk_ivf(emb, queries, k=5, n_cells=8, nprobe=4, iters=3)


def _ivf_oracle_sql(
    k_cells: int = 8,
    iters: int = 3,
    nprobe: int = 4,
    topk: int = 5,
    qmod: int = 100,
    final_select: str | None = None,
    ibase_sql: str | None = None,
) -> str:
    """Unrolled Lloyd k-means + IVF probe in DuckDB SQL, mirroring
    ops/ivf.py step for step: init = ``k_cells`` lowest-id vectors,
    each assignment breaks ties by cell id, each per-(cell,pos) mean is
    rounded to 9 digits (the determinism contract shared with the
    Spark side), empty cells keep their previous centroid, and probe
    centroids are recomputed from the final assignment exactly as
    ``ann_topk_ivf`` does in-plan."""
    d2 = "b.vn2 - 2 * list_dot_product(b.v, c.cv) + c.cn2"
    # ibase_sql overrides the vector source: any CTE body yielding
    # (id, v double[], vn2) — e.g. hashed-trick doc vectors
    ctes = [
        "ibase AS (" + ibase_sql + ")"
        if ibase_sql is not None
        else """ibase AS (
  SELECT vec_id AS id, cast(embedding AS double[]) AS v,
         list_dot_product(cast(embedding AS double[]),
                          cast(embedding AS double[])) AS vn2
  FROM embeddings)""",
        f"""c0 AS (
  SELECT cast(row_number() OVER (ORDER BY id) - 1 AS int) AS cell, v AS cv,
         list_dot_product(v, v) AS cn2
  FROM (SELECT id, v FROM ibase ORDER BY id LIMIT {k_cells}))""",
    ]
    assign = (
        "  SELECT id, cell FROM (\n"
        "    SELECT b.id, c.cell,\n"
        "           row_number() OVER (PARTITION BY b.id\n"
        f"             ORDER BY {d2}, c.cell) AS rn\n"
        "    FROM ibase b CROSS JOIN {cent} c) WHERE rn = 1)"
    )
    means = (
        "  SELECT cell, list(round(m, 9) ORDER BY pos) AS cv FROM (\n"
        "    SELECT cell, pos, avg(x) AS m FROM (\n"
        "      SELECT a.cell, unnest(b.v) AS x,\n"
        "             unnest(range(1, len(b.v) + 1)) AS pos\n"
        "      FROM {a} a JOIN ibase b USING (id))\n"
        "    GROUP BY 1, 2)\n"
        "  GROUP BY 1)"
    )
    prev = "c0"
    for i in range(1, iters + 1):
        ctes.append(f"a{i} AS (\n" + assign.format(cent=prev))
        ctes.append(f"m{i} AS (\n" + means.format(a=f"a{i}"))
        ctes.append(
            f"""c{i} AS (
  SELECT p.cell, coalesce(n.cv, p.cv) AS cv,
         list_dot_product(coalesce(n.cv, p.cv), coalesce(n.cv, p.cv)) AS cn2
  FROM {prev} p LEFT JOIN m{i} n USING (cell))"""
        )
        prev = f"c{i}"
    ctes.append("afin AS (\n" + assign.format(cent=prev))
    ctes.append("mfin AS (\n" + means.format(a="afin"))
    ctes.append(
        """pc AS (
  SELECT cell, cv, list_dot_product(cv, cv) AS cn2 FROM mfin)"""
    )
    ctes.append(
        f"""qs AS (
  SELECT vec_id AS query_id, cast(embedding AS double[]) AS qv,
         list_dot_product(cast(embedding AS double[]),
                          cast(embedding AS double[])) AS qn2
  FROM embeddings WHERE vec_id % {qmod} = 0)""",
    )
    ctes.append(
        f"""probes AS (
  SELECT query_id, qv, qn2, cell FROM (
    SELECT q.query_id, q.qv, q.qn2, c.cell,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY q.qn2 - 2 * list_dot_product(q.qv, c.cv) + c.cn2,
                      c.cell) AS rn
    FROM qs q CROSS JOIN pc c) WHERE rn <= {nprobe})"""
    )
    ctes.append(
        """cand AS (
  SELECT pr.query_id, b.id,
         round(list_dot_product(pr.qv, b.v) / sqrt(pr.qn2 * b.vn2), 9) AS cos
  FROM probes pr JOIN afin a USING (cell) JOIN ibase b ON a.id = b.id
  WHERE pr.query_id != b.id)"""
    )
    if final_select is None:
        final_select = f"""
SELECT query_id, id, cos, rank FROM (
  SELECT query_id, id, cos,
         cast(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, id) AS bigint) AS rank
  FROM cand) WHERE rank <= {topk} ORDER BY query_id, rank"""
    return "WITH " + ",\n".join(ctes) + final_select


SQL_ANN_IVF = _ivf_oracle_sql()


def q_ann_ivf_cells(spark, sf):
    """IVF index-quality report: per-cell member count + integral
    micro-unit inertia to the cell's own (final, 9-digit-rounded)
    centroid — the balance/recall health check after an index build."""
    from .ops.ivf import ivf_cells_report

    return ivf_cells_report(_emb(spark, sf), n_cells=8, iters=3)


SQL_ANN_IVF_CELLS = _ivf_oracle_sql(
    final_select="""
SELECT a.cell, cast(count(*) AS bigint) AS n_vecs,
       cast(sum(cast(round((b.vn2 - 2 * list_dot_product(b.v, pcx.cv)
                            + pcx.cn2) * 1000000) AS bigint)) AS bigint)
           AS inertia_micro
FROM afin a JOIN ibase b USING (id) JOIN pc pcx USING (cell)
GROUP BY 1 ORDER BY 1"""
)


def q_ann_ivf_recall(spark, sf):
    """Declared IVF-quality invariant, hash-checked: recall@5 of the
    learned IVF against exact brute force must clear a fixed threshold.
    Centroids aren't oracle-computable (float-mean order), but the
    invariant is — output is the integral result-set size plus a pass
    flag, so a recall regression flips the hash."""
    from .ops.ivf import ann_topk_ivf

    emb = _emb(spark, sf)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    bf = ann_topk_bruteforce(emb, queries, k=5).select("query_id", "id")
    ivf = ann_topk_ivf(emb, queries, k=5, n_cells=8, nprobe=4, iters=3).select(
        "query_id", "id"
    )
    hits = bf.join(ivf, ["query_id", "id"]).agg(F.count(F.lit(1)).alias("n_hits"))
    total = bf.agg(F.count(F.lit(1)).alias("n_total"))
    return hits.crossJoin(total).select(
        "n_total",
        (F.col("n_hits") * 100 >= F.col("n_total") * 60).alias("recall_ge_60pct"),
    )


def _pq_oracle_sql(
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    topk: int = 5,
    qmod: int = 100,
    shortlist: int | None = None,
) -> str:
    """Unrolled per-subspace Lloyd k-means + PQ encode + ADC search in
    DuckDB SQL, mirroring ops/pq.py step for step: init = the k
    lowest-id vectors' slices per subspace, assignment ties break by
    code id, every mean rounded to 9 digits, empty codes keep their
    previous centroid, each (query, sub, code) distance rounded to
    integral micro-units ONCE so per-candidate ADC sums are 64-bit
    integer arithmetic. ``shortlist`` switches the final stage to the
    two-stage rerank (exact cosine over the ADC shortlist)."""
    s_expr = "len(v) // " + str(m)  # subvector width, from the data

    def _slices(src: str, idc: str) -> str:
        return "\n  UNION ALL ".join(
            f"SELECT {idc}, {j} AS sub, "
            f"v[({j} * ({s_expr})) + 1 : ({j} + 1) * ({s_expr})] AS sv "
            f"FROM {src}"
            for j in range(m)
        )

    ctes = [
        """ibase AS (
  SELECT vec_id AS id, cast(embedding AS double[]) AS v FROM embeddings)""",
        f"""sb AS (
  SELECT id, sub, sv, list_dot_product(sv, sv) AS svn2 FROM (
  {_slices("ibase", "id")}))""",
        f"""c0 AS (
  SELECT sub, cast(row_number() OVER (PARTITION BY sub ORDER BY id) - 1
                   AS int) AS code,
         sv AS cv, list_dot_product(sv, sv) AS cn2
  FROM sb WHERE id IN (SELECT id FROM ibase ORDER BY id LIMIT {k}))""",
    ]
    assign = (
        "  SELECT id, sub, code FROM (\n"
        "    SELECT b.id, b.sub, c.code,\n"
        "           row_number() OVER (PARTITION BY b.id, b.sub\n"
        "             ORDER BY b.svn2 - 2 * list_dot_product(b.sv, c.cv)"
        " + c.cn2, c.code) AS rn\n"
        "    FROM sb b JOIN {cent} c USING (sub)) WHERE rn = 1)"
    )
    prev = "c0"
    for i in range(1, iters + 1):
        ctes.append(f"a{i} AS (\n" + assign.format(cent=prev))
        ctes.append(
            f"""m{i} AS (
  SELECT sub, code, list(round(mu, 9) ORDER BY pos) AS cv FROM (
    SELECT sub, code, pos, avg(x) AS mu FROM (
      SELECT a.sub, a.code, unnest(b.sv) AS x,
             unnest(range(1, len(b.sv) + 1)) AS pos
      FROM a{i} a JOIN sb b USING (id, sub))
    GROUP BY 1, 2, 3)
  GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""c{i} AS (
  SELECT p.sub, p.code, coalesce(n.cv, p.cv) AS cv,
         list_dot_product(coalesce(n.cv, p.cv), coalesce(n.cv, p.cv)) AS cn2
  FROM {prev} p LEFT JOIN m{i} n USING (sub, code))"""
        )
        prev = f"c{i}"
    # encode = assignment against the FINAL codebooks (what pq_encode
    # computes from pq_train's returned frame)
    ctes.append("afin AS (\n" + assign.format(cent=prev))
    ctes.append(
        f"""qs AS (
  SELECT vec_id AS query_id, cast(embedding AS double[]) AS v
  FROM embeddings WHERE vec_id % {qmod} = 0)"""
    )
    ctes.append(
        f"""qsb AS (
  SELECT query_id, sub, sv, list_dot_product(sv, sv) AS svn2 FROM (
  {_slices("qs", "query_id")}))"""
    )
    ctes.append(
        f"""lut AS (
  SELECT q.query_id, c.sub, c.code,
         cast(round((q.svn2 - 2 * list_dot_product(q.sv, c.cv) + c.cn2)
                    * 1000000) AS bigint) AS d2m
  FROM qsb q JOIN {prev} c USING (sub))"""
    )
    ctes.append(
        """adc AS (
  SELECT l.query_id, e.id, cast(sum(l.d2m) AS bigint) AS adc_micro
  FROM afin e JOIN lut l USING (sub, code)
  WHERE l.query_id <> e.id
  GROUP BY 1, 2)"""
    )
    if shortlist is None:
        final = f"""
SELECT query_id, id, adc_micro, rank FROM (
  SELECT query_id, id, adc_micro,
         cast(row_number() OVER (PARTITION BY query_id
              ORDER BY adc_micro, id) AS bigint) AS rank
  FROM adc) WHERE rank <= {topk} ORDER BY query_id, rank"""
    else:
        ctes.append(
            f"""short AS (
  SELECT query_id, id FROM (
    SELECT query_id, id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY adc_micro, id) AS rn
    FROM adc) WHERE rn <= {shortlist})"""
        )
        ctes.append(
            """rr AS (
  SELECT s.query_id, s.id,
         round(list_dot_product(q.v, b.v)
               / sqrt(list_dot_product(q.v, q.v)
                      * list_dot_product(b.v, b.v)), 9) AS cos
  FROM short s JOIN ibase b ON b.id = s.id
  JOIN qs q ON q.query_id = s.query_id)"""
        )
        final = f"""
SELECT query_id, id, cos, rank FROM (
  SELECT query_id, id, cos,
         cast(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, id) AS bigint) AS rank
  FROM rr) WHERE rank <= {topk} ORDER BY query_id, rank"""
    return "WITH " + ",\n".join(ctes) + final


def _ivfpq_oracle_sql(
    n_cells: int = 8,
    cell_iters: int = 2,
    nprobe: int = 4,
    m: int = 4,
    pq_k: int = 8,
    pq_iters: int = 2,
    topk: int = 5,
    qmod: int = 100,
    residual: bool = False,
) -> str:
    """Unrolled IVF-PQ in DuckDB SQL: the cell k-means of
    ``_ivf_oracle_sql`` (g-prefixed CTEs) + the per-subspace PQ
    k-means of ``_pq_oracle_sql`` (z-prefixed), then probes rank the
    final cell centroids, and ADC sums run only over code rows whose
    IVF cell is probed — mirroring ops/pq.py::ann_topk_ivfpq step for
    step under the shared determinism contract. ``residual=True``
    mirrors the FAISS-default variant: PQ trains/encodes (vector −
    cell centroid) residuals and the query side slices a per-probed-
    cell residual, so the LUT is keyed (query, cell, sub, code)."""
    s_expr = "len(v) // " + str(m)

    def _slices(src: str, idc: str) -> str:
        return "\n  UNION ALL ".join(
            f"SELECT {idc}, {j} AS sub, "
            f"v[({j} * ({s_expr})) + 1 : ({j} + 1) * ({s_expr})] AS sv "
            f"FROM {src}"
            for j in range(m)
        )

    ctes = [
        """ib AS (
  SELECT vec_id AS id, cast(embedding AS double[]) AS v,
         list_dot_product(cast(embedding AS double[]),
                          cast(embedding AS double[])) AS vn2
  FROM embeddings)""",
        f"""g0 AS (
  SELECT cast(row_number() OVER (ORDER BY id) - 1 AS int) AS cell, v AS cv,
         list_dot_product(v, v) AS cn2
  FROM (SELECT id, v FROM ib ORDER BY id LIMIT {n_cells}))""",
    ]
    g_assign = (
        "  SELECT id, cell FROM (\n"
        "    SELECT b.id, c.cell,\n"
        "           row_number() OVER (PARTITION BY b.id\n"
        "             ORDER BY b.vn2 - 2 * list_dot_product(b.v, c.cv)"
        " + c.cn2, c.cell) AS rn\n"
        "    FROM ib b CROSS JOIN {cent} c) WHERE rn = 1)"
    )
    g_means = (
        "  SELECT cell, list(round(mu, 9) ORDER BY pos) AS cv FROM (\n"
        "    SELECT cell, pos, avg(x) AS mu FROM (\n"
        "      SELECT a.cell, unnest(b.v) AS x,\n"
        "             unnest(range(1, len(b.v) + 1)) AS pos\n"
        "      FROM {a} a JOIN ib b USING (id))\n"
        "    GROUP BY 1, 2)\n"
        "  GROUP BY 1)"
    )
    prev = "g0"
    for i in range(1, cell_iters + 1):
        ctes.append(f"ga{i} AS (\n" + g_assign.format(cent=prev))
        ctes.append(f"gm{i} AS (\n" + g_means.format(a=f"ga{i}"))
        ctes.append(
            f"""g{i} AS (
  SELECT p.cell, coalesce(n.cv, p.cv) AS cv,
         list_dot_product(coalesce(n.cv, p.cv), coalesce(n.cv, p.cv)) AS cn2
  FROM {prev} p LEFT JOIN gm{i} n USING (cell))"""
        )
        prev = f"g{i}"
    ctes.append("gfin AS (\n" + g_assign.format(cent=prev))
    ctes.append("gmf AS (\n" + g_means.format(a="gfin"))
    ctes.append(
        """gpc AS (
  SELECT cell, cv, list_dot_product(cv, cv) AS cn2 FROM gmf)"""
    )
    # PQ codebooks over subvector slices (of residuals when asked)
    if residual:
        ctes.append(
            """rb AS (
  SELECT b.id, a.cell,
         list_transform(range(len(b.v)), i -> b.v[i + 1] - c.cv[i + 1]) AS v
  FROM ib b JOIN gfin a USING (id) JOIN gpc c USING (cell))"""
        )
    pq_src = "rb" if residual else "ib"
    ctes.append(
        f"""sb AS (
  SELECT id, sub, sv, list_dot_product(sv, sv) AS svn2 FROM (
  {_slices(pq_src, "id")}))"""
    )
    ctes.append(
        f"""z0 AS (
  SELECT sub, cast(row_number() OVER (PARTITION BY sub ORDER BY id) - 1
                   AS int) AS code,
         sv AS cv, list_dot_product(sv, sv) AS cn2
  FROM sb WHERE id IN (SELECT id FROM ib ORDER BY id LIMIT {pq_k}))"""
    )
    z_assign = (
        "  SELECT id, sub, code FROM (\n"
        "    SELECT b.id, b.sub, c.code,\n"
        "           row_number() OVER (PARTITION BY b.id, b.sub\n"
        "             ORDER BY b.svn2 - 2 * list_dot_product(b.sv, c.cv)"
        " + c.cn2, c.code) AS rn\n"
        "    FROM sb b JOIN {cent} c USING (sub)) WHERE rn = 1)"
    )
    prev = "z0"
    for i in range(1, pq_iters + 1):
        ctes.append(f"za{i} AS (\n" + z_assign.format(cent=prev))
        ctes.append(
            f"""zm{i} AS (
  SELECT sub, code, list(round(mu, 9) ORDER BY pos) AS cv FROM (
    SELECT sub, code, pos, avg(x) AS mu FROM (
      SELECT a.sub, a.code, unnest(b.sv) AS x,
             unnest(range(1, len(b.sv) + 1)) AS pos
      FROM za{i} a JOIN sb b USING (id, sub))
    GROUP BY 1, 2, 3)
  GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""z{i} AS (
  SELECT p.sub, p.code, coalesce(n.cv, p.cv) AS cv,
         list_dot_product(coalesce(n.cv, p.cv), coalesce(n.cv, p.cv)) AS cn2
  FROM {prev} p LEFT JOIN zm{i} n USING (sub, code))"""
        )
        prev = f"z{i}"
    ctes.append("zfin AS (\n" + z_assign.format(cent=prev))
    # queries, probes, LUT, cell-gated ADC
    ctes.append(
        f"""qs AS (
  SELECT vec_id AS query_id, cast(embedding AS double[]) AS v,
         list_dot_product(cast(embedding AS double[]),
                          cast(embedding AS double[])) AS qn2
  FROM embeddings WHERE vec_id % {qmod} = 0)"""
    )
    ctes.append(
        f"""probes AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY q.qn2 - 2 * list_dot_product(q.v, c.cv) + c.cn2,
                      c.cell) AS rn
    FROM qs q CROSS JOIN gpc c) WHERE rn <= {nprobe})"""
    )
    if residual:
        ctes.append(
            """qrb AS (
  SELECT p.query_id, p.cell,
         list_transform(range(len(q.v)), i -> q.v[i + 1] - c.cv[i + 1]) AS v
  FROM probes p JOIN qs q USING (query_id) JOIN gpc c USING (cell))"""
        )
        ctes.append(
            f"""qsb AS (
  SELECT query_id, cell, sub, sv, list_dot_product(sv, sv) AS svn2 FROM (
  {_slices("qrb", "query_id, cell")}))"""
        )
        ctes.append(
            f"""lut AS (
  SELECT q.query_id, q.cell, c.sub, c.code,
         cast(round((q.svn2 - 2 * list_dot_product(q.sv, c.cv) + c.cn2)
                    * 1000000) AS bigint) AS d2m
  FROM qsb q JOIN {prev} c USING (sub))"""
        )
        ctes.append(
            """cand AS (
  SELECT l.query_id, e.id, cast(sum(l.d2m) AS bigint) AS adc_micro
  FROM zfin e JOIN gfin a USING (id)
       JOIN lut l ON l.cell = a.cell
                 AND l.sub = e.sub AND l.code = e.code
  WHERE l.query_id <> e.id
  GROUP BY 1, 2)"""
        )
    else:
        ctes.append(
            f"""qsb AS (
  SELECT query_id, sub, sv, list_dot_product(sv, sv) AS svn2 FROM (
  {_slices("qs", "query_id")}))"""
        )
        ctes.append(
            f"""lut AS (
  SELECT q.query_id, c.sub, c.code,
         cast(round((q.svn2 - 2 * list_dot_product(q.sv, c.cv) + c.cn2)
                    * 1000000) AS bigint) AS d2m
  FROM qsb q JOIN {prev} c USING (sub))"""
        )
        ctes.append(
            """cand AS (
  SELECT l.query_id, e.id, cast(sum(l.d2m) AS bigint) AS adc_micro
  FROM zfin e JOIN gfin a USING (id)
       JOIN probes p ON p.cell = a.cell
       JOIN lut l ON l.query_id = p.query_id
                 AND l.sub = e.sub AND l.code = e.code
  WHERE l.query_id <> e.id
  GROUP BY 1, 2)"""
        )
    final = f"""
SELECT query_id, id, adc_micro, rank FROM (
  SELECT query_id, id, adc_micro,
         cast(row_number() OVER (PARTITION BY query_id
              ORDER BY adc_micro, id) AS bigint) AS rank
  FROM cand) WHERE rank <= {topk} ORDER BY query_id, rank"""
    return "WITH " + ",\n".join(ctes) + final


def q_ann_topk_ivfpq(spark, sf):
    """IVF-PQ end to end — the double cost cut of a deployed ANN
    fleet: IVF cells bound the candidate COUNT (~nprobe/n_cells of
    the corpus per query), PQ codes bound the candidate BYTES (m
    small ints; floats never read at query time). Both quantizers
    train under the deterministic Lloyd contract, so the entire
    composition — cells, codebooks, probes, ADC sums — carries a full
    value oracle (generated unrolled SQL)."""
    from .ops.pq import ann_topk_ivfpq

    emb = _emb(spark, sf)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return ann_topk_ivfpq(
        emb, queries, k=5, n_cells=8, nprobe=4, cell_iters=2,
        m=4, pq_k=8, pq_iters=2,
    )


SQL_ANN_IVFPQ = _ivfpq_oracle_sql()


def q_ann_ivfpq_residual(spark, sf):
    """Residual IVF-PQ (the FAISS ``by_residual`` default): codebooks
    train on (vector − cell centroid) residuals so the code budget
    encodes within-cell structure instead of the coarse cell position;
    the query side slices one residual per probed cell. Full value
    oracle — the generated SQL adds the residual CTEs to the IVF-PQ
    unroll."""
    from .ops.pq import ann_topk_ivfpq_residual

    emb = _emb(spark, sf)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return ann_topk_ivfpq_residual(
        emb, queries, k=5, n_cells=8, nprobe=4, cell_iters=2,
        m=4, pq_k=8, pq_iters=2,
    )


SQL_ANN_IVFPQ_RES = _ivfpq_oracle_sql(residual=True)


def q_ann_mmr_rerank(spark, sf):
    """Maximal-marginal-relevance diversified reranking (Carbonell &
    Goldstein 1998): brute-force cosine top-8 shortlist per query,
    then 4 greedy MMR picks at λ=0.7 so near-duplicate hits can't
    crowd the results. Relevance and pairwise sims round ONCE to
    integer micro-units JVM-side; the greedy loop is pure integer
    arithmetic inside one ``applyInPandas`` over |Q|·shortlist²-row
    groups — value-oracled by an unrolled per-pick CTE chain (the
    k-means-unroll precedent)."""
    from .ops.similarity import ann_topk_bruteforce, mmr_select

    emb = _emb(spark, sf)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    short = ann_topk_bruteforce(emb, queries, k=8)
    return mmr_select(emb, short, k=4, lam_permille=700)


def _mmr_oracle_sql(
    k: int = 4, short_k: int = 8, lam: int = 700, every: int = 100
) -> str:
    """Unrolled MMR greedy selection in DuckDB SQL: one CTE pair
    (pick, cumulative-selected) per step after the pure-relevance
    seed. Integer arithmetic throughout — scores are
    lam·rel − (1000−lam)·maxsim over micro-unit longs, ties by id —
    so the chain reproduces the applyInPandas loop value-exactly."""
    one_minus = 1000 - lam
    steps, prev = [], "s1"
    for t in range(2, k + 1):
        steps.append(
            f""",
p{t} AS (SELECT query_id, a AS id FROM (
  SELECT g.query_id, g.a,
         row_number() OVER (PARTITION BY g.query_id
              ORDER BY g.sc DESC, g.a) AS rn
  FROM (SELECT p.query_id, p.a,
               {lam} * min(p.rel_a) - {one_minus} * max(p.sim) AS sc
        FROM pairs p
        JOIN {prev} s ON s.query_id = p.query_id AND s.id = p.b
        WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                          WHERE x.query_id = p.query_id AND x.id = p.a)
        GROUP BY 1, 2) g) WHERE rn = 1),
sel{t} AS (SELECT query_id, id FROM {prev}
           UNION ALL SELECT query_id, id FROM p{t})"""
        )
        prev = f"sel{t}"
    union = "SELECT query_id, id, cast(1 AS bigint) AS rank FROM s1" + "".join(
        f"\nUNION ALL SELECT query_id, id, cast({t} AS bigint) AS rank FROM p{t}"
        for t in range(2, k + 1)
    )
    return f"""
WITH e AS (SELECT vec_id AS id, cast(embedding AS double[]) AS v FROM embeddings),
q AS (SELECT id AS query_id, v AS qv, list_dot_product(v, v) AS qn2 FROM e
      WHERE id % {every} = 0),
c AS (SELECT id, v AS cv, list_dot_product(v, v) AS cn2 FROM e),
short AS (SELECT query_id, id, cast(round(1000000 * cosr) AS bigint) AS rel,
                 cv, cn2 FROM (
    SELECT query_id, id,
           round(list_dot_product(qv, cv) / sqrt(qn2 * cn2), 9) AS cosr, cv, cn2
    FROM q CROSS JOIN c WHERE query_id != id
    QUALIFY row_number() OVER (PARTITION BY query_id
        ORDER BY cosr DESC, id) <= {short_k})),
pairs AS (SELECT x.query_id, x.id AS a, x.rel AS rel_a, y.id AS b,
                 cast(round(1000000 *
                     round(list_dot_product(x.cv, y.cv)
                           / sqrt(x.cn2 * y.cn2), 9)) AS bigint) AS sim
          FROM short x JOIN short y USING (query_id)),
s1 AS (SELECT query_id, id FROM short
       QUALIFY row_number() OVER (PARTITION BY query_id
           ORDER BY rel DESC, id) = 1){''.join(steps)}
{union}
ORDER BY query_id, rank
"""


SQL_ANN_MMR = _mmr_oracle_sql()


# -------------------------------------------------- lexical retrieval
def q_bm25_topk(spark, sf):
    """BM25 keyword search over the corpus (Robertson & Zaragoza 2009,
    the Lucene formulation): every 50th document is a query; top-5 docs
    per query by the micro-nat-integer BM25 score. The inverted-index
    postings and df statistic are one map-side-combined shuffle each;
    query terms meet the vocab-sized stats in an equi-join before
    anything broadcasts (the guarded |Q|·terms frame)."""
    from .ops.retrieval import bm25_topk

    docs = _docs(spark, sf)
    queries = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_topk(docs, queries, k=5)


# parenthesization mirrors ops/retrieval.py exactly: (1e6 * idf) *
# ((tf * 2.2) / denom) — double association is part of the contract
SQL_BM25 = """
WITH toks AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents),
d AS (SELECT doc_id AS id, cast(len(ws) AS bigint) AS dl, ws FROM toks),
post AS (SELECT id, dl, tok, cast(count(*) AS bigint) AS tf
         FROM (SELECT id, dl, unnest(ws) AS tok FROM d) GROUP BY 1, 2, 3),
stats AS (SELECT tok, cast(count(*) AS bigint) AS df FROM post GROUP BY 1),
tot AS (SELECT cast(count(*) AS double) AS n, cast(sum(dl) AS double) AS tt FROM d),
q AS (SELECT DISTINCT doc_id AS query_id, unnest(ws) AS tok FROM toks
      WHERE doc_id % 50 = 0),
qidf AS (SELECT q.query_id, q.tok,
                ln(1 + (t.n - s.df + 0.5) / (s.df + 0.5)) AS idf
         FROM q JOIN stats s USING (tok) CROSS JOIN tot t),
terms AS (SELECT qi.query_id, p.id,
                 cast(round((1000000 * qi.idf) *
                      ((p.tf * 2.2) /
                       (p.tf + 1.2 * (0.25 + 0.75 * p.dl / (t.tt / t.n)))))
                      AS bigint) AS tm
          FROM post p JOIN qidf qi USING (tok) CROSS JOIN tot t),
sc AS (SELECT query_id, id, cast(sum(tm) AS bigint) AS score_micro
       FROM terms GROUP BY 1, 2),
r AS (SELECT query_id, id, score_micro,
             cast(row_number() OVER (PARTITION BY query_id
                  ORDER BY score_micro DESC, id) AS bigint) AS rank
      FROM sc)
SELECT query_id, id, score_micro, rank FROM r WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_bm25_incremental(spark, sf):
    """Append-only BM25 index maintenance: the corpus arrives as two
    disjoint waves; each wave contributes postings, df stats and grand
    totals independently, and the stored index is the pure MONOID fold
    — postings union (disjoint doc ids), stats groupBy-sum, totals
    union (summed at probe time). Probing the folded index with
    ``docs=None`` must equal the one-shot build over the full corpus
    (the incremental-statistic contract shared with
    corpus_vocab_incremental / corpus_sketch_incremental), and the
    probe never touches raw text."""
    from .ops.retrieval import bm25_postings, bm25_stats, bm25_topk, bm25_totals

    docs = _docs(spark, sf)
    w0 = docs.where(F.col("doc_id") % 2 == 0)
    w1 = docs.where(F.col("doc_id") % 2 == 1)
    p0, p1 = bm25_postings(w0), bm25_postings(w1)
    post = p0.unionByName(p1)  # disjoint ids: union IS the fold
    stats = (
        bm25_stats(p0)
        .unionByName(bm25_stats(p1))
        .groupBy("tok")
        .agg(F.sum("df").alias("df"))
    )
    totals = bm25_totals(w0).unionByName(bm25_totals(w1))
    queries = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_topk(
        None, queries, k=5, postings=post, stats=stats, totals=totals
    )


def q_phrase_match(spark, sf):
    """Exact-phrase search over the positional inverted index (Manning
    et al., IIR §2.4): every 100th document's first 3 tokens form a
    phrase; find all documents containing that token sequence
    contiguously and count starting positions. Base-anchored
    positional intersection — phrase matching as a groupBy over the
    equi-joined postings, no per-row document scans; each phrase's
    source doc must appear in its own results (a built-in recall
    check the oracle re-verifies value-exactly)."""
    from .ops.retrieval import phrase_match
    from .ops.text import tokens_col

    docs = _docs(spark, sf)
    phrases = docs.where(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("phrase_id"),
        F.concat_ws(" ", F.slice(tokens_col("text"), 1, 3)).alias("text"),
    )
    return phrase_match(docs, phrases)


SQL_PHRASE_MATCH = f"""
WITH w AS ({_WS}),
pp AS (SELECT doc_id AS id, unnest(ws) AS tok,
              unnest(range(len(ws))) AS pos FROM w),
ph AS (SELECT doc_id AS phrase_id, ws[1:3] AS pw FROM w WHERE doc_id % 100 = 0),
pt AS (SELECT phrase_id, unnest(pw) AS tok, unnest(range(len(pw))) AS i FROM ph),
pl AS (SELECT phrase_id, cast(len(pw) AS bigint) AS plen FROM ph),
cand AS (SELECT pt.phrase_id, pp.id, pp.pos - pt.i AS base
         FROM pp JOIN pt USING (tok)),
m AS (SELECT phrase_id, id, base, count(*) AS nm FROM cand GROUP BY 1, 2, 3),
hits AS (SELECT m.phrase_id, m.id, cast(count(*) AS bigint) AS n_hits
         FROM m JOIN pl USING (phrase_id)
         WHERE m.nm = pl.plen GROUP BY 1, 2)
SELECT phrase_id, id, n_hits FROM hits ORDER BY phrase_id, id
"""


def q_phrase_match_rare(spark, sf):
    """Rare-term-first positional phrase search (Manning et al., IIR
    §1.3's increasing-frequency processing order, applied to
    positions): candidate start positions anchor on each phrase's
    minimum-frequency term only, then the other offsets verify against
    candidate docs' postings. The oracle is the exhaustive positional
    intersection's SQL, so a green row is a value-exact proof that
    gating changed the candidate volume (min_i positions vs
    Σ_i positions — the 15.9x-at-10x row in SCALING.md), not the
    results."""
    from .ops.retrieval import phrase_match_rare
    from .ops.text import tokens_col

    docs = _docs(spark, sf)
    phrases = docs.where(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("phrase_id"),
        F.concat_ws(" ", F.slice(tokens_col("text"), 1, 3)).alias("text"),
    )
    return phrase_match_rare(docs, phrases)


def q_lm_topk(spark, sf):
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty 2004) over the same inverted index as BM25: every 50th
    document is a query; top-5 docs per query by the micro-nat-integer
    score. Collection frequencies (not document frequencies) smooth
    the per-term contribution; the |q|·ln(µ/(dl+µ)) normalizer
    reranks candidates by length. Same scale shape as ``bm25_topk``:
    query terms meet the vocab-sized cf stats before the guarded
    broadcast, candidates gate on shared terms, salted two-phase
    top-k."""
    from .ops.retrieval import lm_topk

    docs = _docs(spark, sf)
    queries = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return lm_topk(docs, queries, k=5, mu=2000.0)


# parenthesization mirrors ops/retrieval.py exactly: qtf * round(1e6 *
# ln(1 + (tf * tt) / (mu * cf))) and qlen * round(1e6 * ln(mu / (dl + mu)))
SQL_LM_TOPK = """
WITH toks AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents),
d AS (SELECT doc_id AS id, cast(len(ws) AS bigint) AS dl, ws FROM toks),
post AS (SELECT id, dl, tok, cast(count(*) AS bigint) AS tf
         FROM (SELECT id, dl, unnest(ws) AS tok FROM d) GROUP BY 1, 2, 3),
cf AS (SELECT tok, cast(sum(tf) AS bigint) AS cf FROM post GROUP BY 1),
tot AS (SELECT cast(sum(dl) AS double) AS tt FROM d),
q AS (SELECT doc_id AS query_id, unnest(ws) AS tok FROM toks
      WHERE doc_id % 50 = 0),
qt AS (SELECT query_id, tok, cast(count(*) AS bigint) AS qtf FROM q GROUP BY 1, 2),
ql AS (SELECT query_id, cast(count(*) AS bigint) AS qlen FROM q GROUP BY 1),
terms AS (SELECT qt.query_id, p.id, p.dl,
                 qt.qtf * cast(round(1000000.0 *
                      ln(1 + (p.tf * t.tt) / (2000.0 * c.cf))) AS bigint) AS tm
          FROM post p JOIN qt USING (tok) JOIN cf c ON c.tok = p.tok
          CROSS JOIN tot t),
pairs AS (SELECT query_id, id, sum(tm) AS s, max(dl) AS dl
          FROM terms GROUP BY 1, 2),
sc AS (SELECT p.query_id, p.id,
              cast(p.s + ql.qlen * cast(round(1000000.0 *
                   ln(2000.0 / (p.dl + 2000.0))) AS bigint) AS bigint)
                  AS score_micro
       FROM pairs p JOIN ql USING (query_id)),
r AS (SELECT query_id, id, score_micro,
             cast(row_number() OVER (PARTITION BY query_id
                  ORDER BY score_micro DESC, id) AS bigint) AS rank
      FROM sc)
SELECT query_id, id, score_micro, rank FROM r WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_bm25_pruned(spark, sf):
    """MaxScore-pruned BM25 (Turtle & Flood 1995; the WAND family of
    Broder et al. 2003) over the same corpus/query batch as
    ``bm25_topk`` — the ORACLE IS THE EXHAUSTIVE RANKER's SQL, so a
    green row is a value-exact proof that impact-ordered pruning
    returned the identical top-k (scores, ranks, ties) while admitting
    only docs holding an essential term into the scoring aggregation.
    High-df terms (low idf, low upper bound) fall into the
    non-essential prefix: exactly the posting lists that made the
    unpruned probe candidate-bound at scale (3.9x wall at 10x on the
    saturated vocab, SCALING.md) stop generating candidates.

    This doc-length batch sits BELOW the measured ad-hoc crossover
    (~2k queries), so the default ``min_prune_queries`` pre-gate
    routes it straight to the exhaustive ranker before any gate
    action runs (r11 VERDICT #1: the residual 1.79x twin ratio was
    pure decision cost at a shape that routed exhaustive anyway) —
    the row now ALSO pins that the pre-gated entry is value-exact;
    the kw pair below pins the pruning machinery itself."""
    from .ops.retrieval import bm25_pruned

    docs = _docs(spark, sf)
    queries = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_pruned(docs, queries, k=5)


def q_lm_pruned(spark, sf):
    """MaxScore-pruned query-likelihood retrieval (Dirichlet smoothing)
    — same contract as ``bm25_pruned``: the oracle is the exhaustive
    ``lm_topk`` SQL, so green == pruned is bit-identical. The LM twist
    the bound machinery must survive: the per-doc length normalizer is
    negative and doc-dependent, so exclusion adds its corpus-wide max
    (evaluated at the minimum posting dl by the SAME Spark expression
    as the real normalizer — exact, not epsilon-padded)."""
    from .ops.retrieval import lm_pruned

    docs = _docs(spark, sf)
    queries = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return lm_pruned(docs, queries, k=5, mu=2000.0)


def _kw_corpus(docs):
    """Words + contiguous 3-gram + 5-gram units in one text column —
    the Zipf-like THREE-tier df spectrum of a realistic search
    vocabulary (words df ~ N; 3-grams mid-df; 5-grams df ~ 1-2),
    mirroring ``scripts/scale_probe.py::_kw_docs`` so the registry pins
    the exact serving shape the SCALING.md keyword rows measure. Short
    docs are guarded (Spark's sequence(1, 0) runs DESCENDING; DuckDB's
    generate_series(1, 0) is naturally empty).

    The frame is persist()ed (r14, guide §4.1/§2.4): the gram builders
    are interpreted higher-order ``transform`` lambdas, and when the
    consumer's ``explode(split(text))`` is fused into the same stage
    Spark re-evaluates them per OUTPUT row — measured 19.8 s for the
    fused explode vs 2.3 s for materialize-then-explode at sf0.1
    (sole cause of the kw rankers' 35 s bench rows; the subtree also
    re-executes once per broadcast-exchange build, which the cache
    collapses). The cache is in-plan, per-session, row-identical, and
    cleared by the bench between samples — every sample still computes
    the corpus from parquet.

    The repartition ahead of the gram projection (r14, guide §2.5
    input skew): the docs parquet is one row group at bench scale, so
    without it the scan — and therefore the gram compute, the cache
    materialization, AND every consumer stage over the 1-partition
    cache — runs single-task (measured 0.69 s materialize + 2.2 s
    single-task postings stages). Spreading ~doc_count rows round-robin
    to defaultParallelism is a metadata-priced exchange that gives the
    materialization and all cache consumers full width; at cluster
    scale a multi-file corpus already scans wide and the floor is
    inert."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    empty = F.expr("cast(array() as array<string>)")
    tri = F.when(F.size("ws") < 3, empty).otherwise(
        F.expr(
            "transform(sequence(1, size(ws) - 2),"
            " i -> concat_ws('_', ws[i-1], ws[i], ws[i+1]))"
        )
    )
    five = F.when(F.size("ws") < 5, empty).otherwise(
        F.expr(
            "transform(sequence(1, size(ws) - 4),"
            " i -> concat_ws('_', ws[i-1], ws[i], ws[i+1], ws[i+2], ws[i+3]))"
        )
    )
    return (
        docs.repartition(par)
        .select("doc_id", F.split("text", " +").alias("ws"))
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.array_join(F.col("ws"), " "),
                F.array_join(tri, " "),
                F.array_join(five, " "),
            ).alias("text"),
        )
        .persist()
    )


def _kw_queries(docs, mod: int = 1):
    """Short keyword queries over the ``_kw_corpus`` vocabulary: one
    stopword-tier word + one mid-df 3-gram + one rare 5-gram anchored
    at the doc's middle — the classical MaxScore serving shape (Broder
    et al. 2003's motivating case: a high-df term in the query must
    not drag the whole corpus into candidate scoring). Every doc is a
    query source (``mod=1``): the batch must be large enough that the
    measured pair is compute-bound, not action-overhead-bound — at 500
    kw queries the pruned ranker's extra driver actions dominate its
    356x candidate cut, at 5000 the cut wins 2.4x (sf0.1, local[32])."""
    m = "cast(size(ws) / 2 as int)"
    return (
        docs.where(F.col("doc_id") % mod == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.split("text", " +").alias("ws"),
        )
        .where(F.size("ws") >= 8)
        .select(
            "query_id",
            F.expr(
                "concat_ws(' ', ws[0],"
                f" concat_ws('_', ws[{m}-1], ws[{m}], ws[{m}+1]),"
                f" concat_ws('_', ws[{m}-1], ws[{m}], ws[{m}+1],"
                f" ws[{m}+2], ws[{m}+3]))"
            ).alias("text"),
        )
    )


def _stored_fixture_base(sf, prefix: str) -> str:
    """Content-keyed temp location for a build-once stored fixture
    over ``sf``'s documents parquet. Key on a CONTENT fingerprint of
    the source, not the path alone: a regenerated corpus must never
    be served by a stale stored artifact. ADVICE r13 (low): the first
    cut keyed on (dir mtime truncated to seconds, dirent size), both
    content-independent for a parquet DIRECTORY — fingerprint the
    part files themselves (sorted relative names + sizes +
    ns-resolution mtimes; a plain file is its own one-entry list) and
    prune old-content dirs for the same source path so regenerations
    don't accumulate stale trees in the tmp dir."""
    import glob as _glob
    import hashlib
    import os
    import shutil
    import tempfile

    src = os.path.join(os.path.abspath(sf), "documents.parquet")
    if os.path.isdir(src):
        entries = sorted(
            (
                os.path.relpath(os.path.join(dp, f), src),
                os.path.getsize(os.path.join(dp, f)),
                os.stat(os.path.join(dp, f)).st_mtime_ns,
            )
            for dp, _dns, fs in os.walk(src)
            for f in fs
        )
    else:
        entries = [("", os.path.getsize(src), os.stat(src).st_mtime_ns)]
    pathkey = hashlib.md5(src.encode()).hexdigest()[:8]
    content = hashlib.md5(repr(entries).encode()).hexdigest()[:8]
    tmp = tempfile.gettempdir()
    base = os.path.join(tmp, f"{prefix}_{pathkey}_{content}")
    for stale in _glob.glob(os.path.join(tmp, f"{prefix}_{pathkey}_*")):
        # same source path, different content fingerprint -> the
        # corpus was regenerated; drop the superseded artifact
        # (staging dirs carry a .building suffix and are left to
        # their owner)
        if stale != base and not os.path.basename(stale).count(".building"):
            shutil.rmtree(stale, ignore_errors=True)
    return base


def _bm25_kw_index(spark, sf) -> str:
    """Build-once sf-keyed PERSISTED keyword index (the
    ``save_bm25`` layout + the ``bounds`` table): postings / df stats
    / totals / max-tf bounds over the ``_kw_corpus`` text, written
    under a deterministic temp location and reused by every later
    probe in the session or on disk — mirroring production, where the
    index build is a one-time cost amortized over every query batch
    (the ``layout_bucketed_join`` fixture precedent). The build lands
    in a pid-suffixed staging dir and is renamed into place, so two
    sessions racing the same sf build at worst twice and never read a
    half-written index."""
    import glob as _glob
    import hashlib
    import os
    import shutil
    import tempfile

    from .ops.retrieval import (
        bm25_postings,
        bm25_stats,
        bm25_term_bounds,
        bm25_totals,
        save_bm25,
        save_bm25_bounds,
    )

    base = _stored_fixture_base(sf, "swarm_bm25kw")
    if not os.path.exists(os.path.join(base, "bounds")):
        stage = f"{base}.building-{os.getpid()}"
        docs = _kw_corpus(_docs(spark, sf))
        post = bm25_postings(docs).persist()
        save_bm25(post, bm25_stats(post), bm25_totals(docs), stage)
        save_bm25_bounds(bm25_term_bounds(post), stage)
        post.unpersist()
        try:
            os.rename(stage, base)
        except OSError:
            # a concurrent session renamed its build in first — use it
            shutil.rmtree(stage, ignore_errors=True)
    return base


def q_bm25_pruned_idx(spark, sf):
    """MaxScore-pruned BM25 probing a PERSISTED index (the
    ``docs=None`` entry shape — never pre-gated, r12 VERDICT #2): the
    serving path a production search tier actually runs, where the
    index build is amortized and a query batch's cost is gate checks
    + seed/essential/verify passes against stored postings. Same
    corpus/batch/oracle as ``bm25_pruned_kw`` (the exhaustive SQL —
    green == the pruned path returned the identical top-k), but the
    timed work is the PROBE alone, so the bench pair
    (``bm25_topk_kw`` vs this row) measures what pruning buys in the
    serving regime. The plan verifiably takes the pruned path — the
    final plan unions the pruned slice with the theta-null exhaustive
    slice — pinned in tests/test_plans.py."""
    from .ops.retrieval import bm25_pruned, load_bm25, load_bm25_bounds

    idx = _bm25_kw_index(spark, sf)
    post, stats, totals = load_bm25(spark, idx)
    return bm25_pruned(
        None,
        _kw_queries(_docs(spark, sf)),
        k=5,
        postings=post,
        stats=stats,
        totals=totals,
        bounds=load_bm25_bounds(spark, idx),
    )


def q_lm_pruned_idx(spark, sf):
    """MaxScore-pruned query-likelihood retrieval probing the SAME
    persisted index (`_bm25_kw_index` — one stored index serves both
    rankers: cf derives from the postings' tf sums, the bounds table
    is shared). ``docs=None`` entry: never pre-gated, the pruned
    machinery runs at every batch size, and the oracle is the
    exhaustive ``lm_topk`` SQL over the same corpus/batch — a green
    row is a value-exact proof on the serving shape."""
    from .ops.retrieval import lm_pruned, load_bm25, load_bm25_bounds

    idx = _bm25_kw_index(spark, sf)
    post, _stats, totals = load_bm25(spark, idx)
    return lm_pruned(
        None,
        _kw_queries(_docs(spark, sf)),
        k=5,
        mu=2000.0,
        postings=post,
        totals=totals,
        bounds=load_bm25_bounds(spark, idx),
    )


def q_bm25_topk_kw(spark, sf):
    """Exhaustive BM25 over the KEYWORD serving shape (see
    ``_kw_corpus``/``_kw_queries``): the twin of ``bm25_pruned_kw`` —
    same corpus, same batch, same oracle SQL. The registry's original
    bm25 pair uses doc-length queries (batch vocab ≈ corpus vocab),
    where the volume gates correctly route every query exhaustive and
    the bench difference is pure decision cost; THIS pair is the shape
    impact-ordered pruning exists for, so the two bench rows measure
    what MaxScore buys in the serving regime at sf scale."""
    from .ops.retrieval import bm25_topk

    raw = _docs(spark, sf)
    return bm25_topk(_kw_corpus(raw), _kw_queries(raw), k=5)


def q_bm25_pruned_kw(spark, sf):
    """MaxScore-pruned BM25 on the keyword serving shape — the oracle
    is the exhaustive ranker's SQL over the same corpus/batch
    (`q_bm25_topk_kw`), so a green row is a value-exact proof that the
    seed-θ / essential-prefix / verify passes returned the identical
    top-k while the high-df word terms fell into the non-essential
    prefix. Measured at sf0.1/local[32]: candidates cut 1,934,221 →
    5,432 (query, doc) pairs (356x) and the 5,000-query pair runs
    13.5 s pruned vs 32.9 s exhaustive (2.4x faster) — the candidate
    cut the doc-length pair's gates can never reach."""
    from .ops.retrieval import bm25_pruned

    raw = _docs(spark, sf)
    # min_prune_queries=None: this row pins the PRUNING MACHINERY's
    # value-exactness at every sf (the driver's sf0.01 kw batch is 500
    # queries — below the ad-hoc crossover the default pre-gate
    # routes on; the doc-length pair pins the pre-gated entry instead)
    return bm25_pruned(
        _kw_corpus(raw), _kw_queries(raw), k=5, min_prune_queries=None
    )


def q_lm_topk_kw(spark, sf):
    """Dirichlet query-likelihood over the keyword serving shape — the
    exhaustive twin of ``lm_pruned_kw`` (same contract as the BM25 kw
    pair)."""
    from .ops.retrieval import lm_topk

    raw = _docs(spark, sf)
    return lm_topk(_kw_corpus(raw), _kw_queries(raw), k=5, mu=2000.0)


def q_lm_pruned_kw(spark, sf):
    """MaxScore-pruned query likelihood on the keyword serving shape —
    oracle = the exhaustive LM SQL over the same corpus/batch; the
    dl-dependent negative normalizer enters the exclusion bound at the
    batch-vocabulary min dl (tighter than the corpus-wide bound and
    still exact: every candidate holds a batch term)."""
    from .ops.retrieval import lm_pruned

    raw = _docs(spark, sf)
    # min_prune_queries=None: pin the pruned path (see bm25_pruned_kw)
    return lm_pruned(
        _kw_corpus(raw), _kw_queries(raw), k=5, mu=2000.0,
        min_prune_queries=None,
    )


# shared prelude: the kw corpus/queries in DuckDB (1-based lists; the
# Spark builders are 0-based — indices shift by one, values identical)
_SQL_KW_PRELUDE = """
WITH base AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS w0
              FROM documents),
toks AS (SELECT doc_id,
  w0
  || list_transform(generate_series(1, len(w0) - 2),
       i -> concat_ws('_', w0[i], w0[i+1], w0[i+2]))
  || list_transform(generate_series(1, len(w0) - 4),
       i -> concat_ws('_', w0[i], w0[i+1], w0[i+2], w0[i+3], w0[i+4]))
  AS ws FROM base),
d AS (SELECT doc_id AS id, cast(len(ws) AS bigint) AS dl, ws FROM toks),
post AS (SELECT id, dl, tok, cast(count(*) AS bigint) AS tf
         FROM (SELECT id, dl, unnest(ws) AS tok FROM d) GROUP BY 1, 2, 3),
qsrc AS (SELECT doc_id AS query_id, w0,
                cast(floor(len(w0) / 2) AS int) AS m
         FROM base WHERE len(w0) >= 8),
qu AS (SELECT query_id, unnest([w0[1],
         concat_ws('_', w0[m], w0[m+1], w0[m+2]),
         concat_ws('_', w0[m], w0[m+1], w0[m+2], w0[m+3], w0[m+4])]) AS tok
       FROM qsrc)
"""

SQL_BM25_KW = _SQL_KW_PRELUDE + """,
stats AS (SELECT tok, cast(count(*) AS bigint) AS df FROM post GROUP BY 1),
tot AS (SELECT cast(count(*) AS double) AS n, cast(sum(dl) AS double) AS tt
        FROM d),
q AS (SELECT DISTINCT query_id, tok FROM qu),
qidf AS (SELECT q.query_id, q.tok,
                ln(1 + (t.n - s.df + 0.5) / (s.df + 0.5)) AS idf
         FROM q JOIN stats s USING (tok) CROSS JOIN tot t),
terms AS (SELECT qi.query_id, p.id,
                 cast(round((1000000 * qi.idf) *
                      ((p.tf * 2.2) /
                       (p.tf + 1.2 * (0.25 + 0.75 * p.dl / (t.tt / t.n)))))
                      AS bigint) AS tm
          FROM post p JOIN qidf qi USING (tok) CROSS JOIN tot t),
sc AS (SELECT query_id, id, cast(sum(tm) AS bigint) AS score_micro
       FROM terms GROUP BY 1, 2),
r AS (SELECT query_id, id, score_micro,
             cast(row_number() OVER (PARTITION BY query_id
                  ORDER BY score_micro DESC, id) AS bigint) AS rank
      FROM sc)
SELECT query_id, id, score_micro, rank FROM r WHERE rank <= 5
ORDER BY query_id, rank
"""

SQL_LM_TOPK_KW = _SQL_KW_PRELUDE + """,
cf AS (SELECT tok, cast(sum(tf) AS bigint) AS cf FROM post GROUP BY 1),
tot AS (SELECT cast(sum(dl) AS double) AS tt FROM d),
qt AS (SELECT query_id, tok, cast(count(*) AS bigint) AS qtf
       FROM qu GROUP BY 1, 2),
ql AS (SELECT query_id, cast(count(*) AS bigint) AS qlen
       FROM qu GROUP BY 1),
terms AS (SELECT qt.query_id, p.id, p.dl,
                 qt.qtf * cast(round(1000000.0 *
                      ln(1 + (p.tf * t.tt) / (2000.0 * c.cf))) AS bigint) AS tm
          FROM post p JOIN qt USING (tok) JOIN cf c ON c.tok = p.tok
          CROSS JOIN tot t),
pairs AS (SELECT query_id, id, sum(tm) AS s, max(dl) AS dl
          FROM terms GROUP BY 1, 2),
sc AS (SELECT p.query_id, p.id,
              cast(p.s + ql.qlen * cast(round(1000000.0 *
                   ln(2000.0 / (p.dl + 2000.0))) AS bigint) AS bigint)
                  AS score_micro
       FROM pairs p JOIN ql USING (query_id)),
r AS (SELECT query_id, id, score_micro,
             cast(row_number() OVER (PARTITION BY query_id
                  ORDER BY score_micro DESC, id) AS bigint) AS rank
      FROM sc)
SELECT query_id, id, score_micro, rank FROM r WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_hybrid_rrf(spark, sf):
    """Hybrid retrieval: BM25 lexical top-10 over documents fused with
    exact-cosine semantic top-10 over the aligned embeddings table by
    reciprocal-rank fusion (Cormack et al. 2009) — the production
    hybrid-search shape. Fusion is rank-only integer arithmetic over
    two k-bounded lists; no score calibration between the engines."""
    from .ops.retrieval import bm25_topk, rrf_fuse
    from .ops.similarity import ann_topk_bruteforce

    docs = _docs(spark, sf)
    emb = _emb(spark, sf)
    queries = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    lex = bm25_topk(docs, queries, k=10)
    sem = ann_topk_bruteforce(
        emb, emb.where(F.col("vec_id") % 50 == 0), k=10
    )
    return rrf_fuse([lex, sem], k=5)


SQL_HYBRID_RRF = (
    SQL_BM25.replace("rank <= 5", "rank <= 10").rstrip()
    .replace("SELECT query_id, id, score_micro, rank FROM r WHERE rank <= 10\nORDER BY query_id, rank", "")
    + """,
sem AS (SELECT query_id, id,
               cast(row_number() OVER (PARTITION BY query_id
                    ORDER BY round(list_dot_product(qv, cv)
                          / sqrt(list_dot_product(qv, qv)
                                 * list_dot_product(cv, cv)), 9) DESC, id)
                    AS bigint) AS rank
        FROM (SELECT vec_id AS query_id, cast(embedding AS double[]) AS qv
              FROM embeddings WHERE vec_id % 50 = 0) q,
             (SELECT vec_id AS id, cast(embedding AS double[]) AS cv
              FROM embeddings) c
        WHERE query_id != id
        QUALIFY rank <= 10),
u AS (SELECT query_id, id,
             cast(round(1000000.0 / (60 + rank)) AS bigint) AS c
      FROM r WHERE rank <= 10
      UNION ALL
      SELECT query_id, id, cast(round(1000000.0 / (60 + rank)) AS bigint)
      FROM sem),
fused AS (SELECT query_id, id, cast(sum(c) AS bigint) AS rrf_micro
          FROM u GROUP BY 1, 2),
fr AS (SELECT query_id, id, rrf_micro,
              cast(row_number() OVER (PARTITION BY query_id
                   ORDER BY rrf_micro DESC, id) AS bigint) AS rank
       FROM fused)
SELECT query_id, id, rrf_micro, rank FROM fr WHERE rank <= 5
ORDER BY query_id, rank
"""
)


def q_ann_pq_adc(spark, sf):
    """Product quantization end to end (Jégou et al. 2011): train m=4
    per-subspace codebooks (deterministic Lloyd, the IVF contract),
    encode every vector to 4 small codes, and answer a query batch by
    ADC — integral micro-unit lookup sums over the CODES only; the
    corpus's float vectors are never read at query time. Full value
    oracle: an unrolled per-subspace k-means + ADC in DuckDB SQL."""
    from .ops.pq import pq_encode, pq_topk, pq_train

    emb = _emb(spark, sf)
    books = pq_train(emb, m=4, k=8, iters=2)
    codes = pq_encode(emb, books, m=4)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return pq_topk(codes, queries, books, k=5, m=4)


SQL_ANN_PQ = _pq_oracle_sql()


def q_ann_pq_rerank(spark, sf):
    """The two-stage production PQ search: ADC shortlist from the
    compressed codes, exact cosine rerank of only the ≤ |Q|·shortlist
    survivors (broadcast shortlist against one corpus scan). Output
    schema/tie-break matches the brute-force verifier; the whole
    composition — codebooks, codes, shortlist, rerank — is
    value-oracled."""
    from .ops.pq import pq_encode, pq_topk_rerank, pq_train

    emb = _emb(spark, sf)
    books = pq_train(emb, m=4, k=8, iters=2)
    codes = pq_encode(emb, books, m=4)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return pq_topk_rerank(emb, codes, queries, books, k=5, shortlist=50, m=4)


SQL_ANN_PQ_RERANK = _pq_oracle_sql(shortlist=50)


SQL_ANN_IVF_RECALL = """
SELECT cast(5 * count(*) AS bigint) AS n_total, true AS recall_ge_60pct
FROM embeddings WHERE vec_id % 100 = 0
"""


# ------------------------------------------------- semantic dedup (SemDeDup)
def q_dedup_minhash_recall(spark, sf):
    """Declared banding-quality invariant, hash-checked (the fuzzy-tier
    analogue of ann_ivf_recall): MinHash/LSH candidates must cover
    ≥ 90% of the TRUE jaccard-0.8 pairs. Candidate generation is
    probabilistic in design but deterministic given the md5 banding,
    so a parameter regression (fewer perms/bands than the threshold
    needs) flips the hash. Output: (n_true, recall_ge_90pct)."""
    docs = _docs(spark, sf)
    truth = ngram_jaccard_pairs(docs, threshold=0.8, max_df=_MAX_DF).select(
        "doc_a", "doc_b"
    )
    cand = minhash_lsh_pairs(docs, max_df=_MAX_DF).select("doc_a", "doc_b")
    hits = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    total = truth.agg(F.count(F.lit(1)).alias("n_true"))
    return hits.crossJoin(F.broadcast(total)).select(
        "n_true",
        (F.col("n_hits") * 100 >= F.col("n_true") * 90).alias("recall_ge_90pct"),
    )


SQL_MINHASH_RECALL = f"""
WITH {_shingle_cte(3, _MAX_DF)},
sz AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY 1),
i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT cast(count(*) AS bigint) AS n_true, true AS recall_ge_90pct
FROM i JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE round(inter * 1.0 / (x.n_sh + y.n_sh - inter), 6) >= 0.8
"""


def q_dedup_semantic(spark, sf):
    """SemDeDup-style semantic near-dup pairs: deterministic k-means
    cells (the bit-reproducible Lloyd contract the IVF oracle pins)
    block a within-cell cosine scan — paraphrase-level duplicates that
    every lexical tier (MinHash/SimHash/winnowing) misses. Oracle: the
    identical unrolled k-means, finished with a within-cell self-join."""
    from .ops.semdedup import semantic_dup_pairs

    return semantic_dup_pairs(_emb(spark, sf), n_cells=8, iters=3, threshold=0.35)


_SEM_COS = (
    "round(list_dot_product(va.v, vb.v) / sqrt(va.vn2 * vb.vn2), 9)"
)
SQL_DEDUP_SEMANTIC = _ivf_oracle_sql(
    final_select=f"""
SELECT a.id AS id_a, b.id AS id_b, a.cell AS cell, {_SEM_COS} AS cos
FROM afin a JOIN afin b ON a.cell = b.cell AND a.id < b.id
JOIN ibase va ON va.id = a.id
JOIN ibase vb ON vb.id = b.id
WHERE {_SEM_COS} >= 0.35
ORDER BY id_a, id_b"""
)


def q_dedup_semantic_keep(spark, sf):
    """End-to-end semantic dedup: same-cell cosine pairs → connected
    components → keep the lowest id per semantic group. Returns the
    surviving (vec_id, label) rows."""
    from .ops.semdedup import semantic_keep_one

    return (
        semantic_keep_one(_emb(spark, sf), n_cells=8, iters=3, threshold=0.35)
        .select("vec_id", "label")
        .orderBy("vec_id")
    )


SQL_DEDUP_SEMANTIC_KEEP = _ivf_oracle_sql(
    final_select=f""",
sp AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM afin a JOIN afin b ON a.cell = b.cell AND a.id < b.id
  JOIN ibase va ON va.id = a.id
  JOIN ibase vb ON vb.id = b.id
  WHERE {_SEM_COS} >= 0.35),
ed AS (SELECT id_a AS src, id_b AS dst FROM sp
       UNION SELECT id_b, id_a FROM sp),
nn AS (SELECT DISTINCT src AS id FROM ed),
reach AS (
    SELECT id, id AS r FROM nn
    UNION
    SELECT reach.id, ed.dst AS r FROM reach JOIN ed ON reach.r = ed.src
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY 1),
losers AS (SELECT id FROM comp WHERE id != component)
SELECT e.vec_id, e.label FROM embeddings e
LEFT JOIN losers l ON e.vec_id = l.id
WHERE l.id IS NULL ORDER BY e.vec_id"""
).replace("WITH ", "WITH RECURSIVE ", 1)


# --------------------------------------------------------------- asof join
def q_range_overlap_pairs(spark, sf):
    """Interval-overlap self-join: per user, how many of their event
    intervals [ts, ts + floor(value*60)s) overlap, and the total
    overlap time. Grid-bucketed with canonical-cell dedup — no
    |events|^2 candidate space, no distinct over matched pairs."""
    from .ops.rangejoin import interval_overlap_join

    ev = load_table(spark, sf, "events")
    i = ev.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (
            F.unix_micros(F.col("ts"))
            + F.floor(F.col("value") * 60).cast("long") * 1_000_000
        ).alias("e"),
    )
    b = i.select(
        F.col("event_id").alias("event_id_b"),
        "user_id",
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    pairs = interval_overlap_join(
        i, b, "s", "e", "s_b", "e_b", grid=10_000_000_000, on="user_id"
    ).where(F.col("event_id") < F.col("event_id_b"))
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.least("e", "e_b") - F.greatest("s", "s_b"))
            .cast("long")
            .alias("total_overlap_us"),
        )
        .orderBy("user_id")
    )


SQL_RANGE_OVERLAP = """
WITH i AS (
  SELECT event_id, user_id, epoch_us(ts) AS s,
         epoch_us(ts) + cast(floor(value * 60) AS bigint) * 1000000 AS e
  FROM events
),
p AS (
  SELECT a.user_id, least(a.e, b.e) - greatest(a.s, b.s) AS ov
  FROM i a JOIN i b
    ON a.user_id = b.user_id AND a.event_id < b.event_id
   AND a.s < b.e AND b.s < a.e AND a.e > a.s AND b.e > b.s
)
SELECT user_id, cast(count(*) AS bigint) AS n_pairs,
       cast(sum(ov) AS bigint) AS total_overlap_us
FROM p GROUP BY 1 ORDER BY 1
"""


def q_asof_latest_order(spark, sf):
    """Backward as-of join: each event picks the user's most recent
    order at or before the event time (the standard
    event-to-dimension-state attachment). Right side pre-aggregated to
    one row per (key, time) so ties are engine-portable; DuckDB's
    native ASOF JOIN is the oracle."""
    from .ops.asof import asof_join

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("o_ts"),
        )
        .agg(F.max("o_orderkey").alias("order_key"))
        .withColumn("matched_ts", F.col("o_ts"))  # expose the matched time
    )
    out = asof_join(ev, orders, on="user_id", left_time="ts", right_time="o_ts")
    return out.select(
        "event_id", "user_id", F.col("matched_ts").alias("order_ts"), "order_key"
    ).orderBy("event_id")


def q_asof_next_order(spark, sf):
    """Forward as-of join: each event picks the user's EARLIEST order
    at or after the event time (next-action attachment — the mirrored
    direction of asof_latest_order, same one-shuffle window shape)."""
    from .ops.asof import asof_join

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("o_ts"),
        )
        .agg(F.max("o_orderkey").alias("order_key"))
        .withColumn("matched_ts", F.col("o_ts"))
    )
    out = asof_join(
        ev, orders, on="user_id", left_time="ts", right_time="o_ts",
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", F.col("matched_ts").alias("order_ts"), "order_key"
    ).orderBy("event_id")


SQL_ASOF_NEXT = """
WITH r AS (
  SELECT o_custkey AS user_id, cast(o_orderdate AS timestamp) AS order_ts,
         max(o_orderkey) AS order_key
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT e.event_id, r.order_ts, r.order_key,
         row_number() OVER (PARTITION BY e.event_id ORDER BY r.order_ts) AS rn
  FROM events e JOIN r ON e.user_id = r.user_id AND r.order_ts >= e.ts
)
SELECT e.event_id, e.user_id, m.order_ts, m.order_key
FROM events e LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (event_id)
ORDER BY e.event_id
"""


def q_asof_nearest_order(spark, sf):
    """Nearest-direction as-of join: each event attaches the user's
    order CLOSEST in time, ties toward the past — both directional
    fills share one key shuffle (the third merge_asof direction,
    completing backward/forward)."""
    from .ops.asof import asof_join

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("o_ts"),
        )
        .agg(F.max("o_orderkey").alias("order_key"))
        .withColumn("matched_ts", F.col("o_ts"))
    )
    out = asof_join(
        ev, orders, on="user_id", left_time="ts", right_time="o_ts",
        direction="nearest",
    )
    return out.select(
        "event_id", "user_id", F.col("matched_ts").alias("order_ts"), "order_key"
    ).orderBy("event_id")


SQL_ASOF_NEAREST = """
WITH r AS (
  SELECT o_custkey AS user_id, cast(o_orderdate AS timestamp) AS order_ts,
         max(o_orderkey) AS order_key
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT e.event_id, r.order_ts, r.order_key,
         row_number() OVER (PARTITION BY e.event_id
           ORDER BY abs(epoch_us(e.ts) - epoch_us(r.order_ts)),
                    CASE WHEN r.order_ts <= e.ts THEN 0 ELSE 1 END) AS rn
  FROM events e JOIN r ON e.user_id = r.user_id
)
SELECT e.event_id, e.user_id, m.order_ts, m.order_key
FROM events e LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (event_id)
ORDER BY e.event_id
"""


SQL_ASOF = """
WITH r AS (
  SELECT o_custkey AS user_id, cast(o_orderdate AS timestamp) AS order_ts,
         max(o_orderkey) AS order_key
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, r.order_ts, r.order_key
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.user_id AND e.ts >= r.order_ts
ORDER BY e.event_id
"""


# --------------------------------------------------------------- range join
def q_range_window_counts(spark, sf):
    """Interval join via time-grid bucketing: every error event opens a
    1-hour window; count the same user's events inside it. The oracle
    is the plain inequality join — the gridded plan must be
    row-identical while staying an equi-join (no nested loop)."""
    from .ops.rangejoin import range_join

    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts")
    anchors = (
        load_table(spark, sf, "events")
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("anchor_id"),
            F.col("user_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
        )
    )
    joined = range_join(
        ev, anchors, left_time="ts", right_start="w_start", right_end="w_end",
        grid_s=3600, on="user_id",
    )
    return (
        joined.groupBy("anchor_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("anchor_id")
    )


SQL_RANGE_WINDOW = """
WITH a AS (
  SELECT event_id AS anchor_id, user_id, ts AS ws, ts + INTERVAL 1 HOUR AS we
  FROM events WHERE event_type = 'error'
)
SELECT a.anchor_id, count(*) AS n
FROM a JOIN events e
  ON e.user_id = a.user_id AND e.ts >= a.ws AND e.ts < a.we
GROUP BY 1 ORDER BY 1
"""


# ------------------------------------------------------------- sampling ops
def q_sample_docs(spark, sf):
    """Deterministic 10% document sample: membership is a pure function
    of doc_id (stable across partitionings/engines), so the oracle can
    reproduce the exact id set."""
    from .ops.sampling import hash_sample

    return hash_sample(_docs(spark, sf), 0.1, key="doc_id").select("doc_id").orderBy(
        "doc_id"
    )


SQL_SAMPLE_DOCS = f"""
SELECT doc_id FROM documents
WHERE {_md5_bucket_sql('doc_id', 'swarm')} < {int(0.1 * (1 << 32))}
ORDER BY doc_id
"""


def q_sample_split_counts(spark, sf):
    """Train/val/test split labels + per-type stratified downsampling
    (keep all errors, half the clicks, 5% of the rest) — the standard
    corpus-construction recipe, fully hash-checked."""
    from .ops.sampling import split_column, stratified_hash_sample

    ev = load_table(spark, sf, "events")
    sampled = stratified_hash_sample(
        ev, strata="event_type", fractions={"error": 1.0, "click": 0.5},
        key="event_id", default=0.05,
    )
    return (
        sampled.withColumn("split", split_column("event_id"))
        .groupBy("event_type", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "split")
    )


_SPACE = 1 << 32
SQL_SAMPLE_SPLIT = f"""
WITH s AS (
  SELECT event_type, event_id FROM events
  WHERE {_md5_bucket_sql('event_id', 'swarm')} <
        CASE event_type WHEN 'error' THEN {_SPACE}
                        WHEN 'click' THEN {int(0.5 * _SPACE)}
                        ELSE {int(0.05 * _SPACE)} END
), lab AS (
  SELECT event_type,
         CASE WHEN {_md5_bucket_sql('event_id', 'swarm-split')} < {int(0.1 * _SPACE)}
                THEN 'test'
              WHEN {_md5_bucket_sql('event_id', 'swarm-split')} <
                   {int(0.1 * _SPACE) + int(0.1 * _SPACE)} THEN 'val'
              ELSE 'train' END AS split
  FROM s
)
SELECT event_type, split, count(*) AS n FROM lab GROUP BY 1, 2 ORDER BY 1, 2
"""


# ------------------------------------------------------------ multimodal ops
def q_multimodal_features(spark, sf):
    """Binary-column plumbing: synthesize media payloads, extract
    byte-level features via Arrow-batched mapInPandas. The SWIM fake
    format is md5-derived, so DuckDB can rebuild every blob and verify
    the exact columns (mean_byte is projected out — its float rounding
    is the one non-portable stat; sum_bytes carries the same info
    exactly).

    The source table is a single parquet file at test scale, so the
    frame is repartitioned to fan the Python stage across cores (at
    real scale the many input files do this for free). No orderBy: the
    driver's compare is order-insensitive, and sorting UDF output makes
    the range partitioner sample-execute the Python stage twice."""
    docs = _docs(spark, sf)
    media = attach_fake_image(docs).repartition(spark.sparkContext.defaultParallelism)
    return media_features(media).drop("mean_byte")




SQL_MULTIMODAL = f"""
WITH m AS (
  SELECT doc_id, text, md5(text) AS h,
         cast(octet_length(encode(text)) AS bigint) AS plen
  FROM documents
), wh AS (
  SELECT doc_id, text, plen,
         {_hexval('h', 1, 4)} % 1920 + 1 AS width,
         {_hexval('h', 5, 4)} % 1080 + 1 AS height
  FROM m
), b AS (
  SELECT doc_id, plen, width, height,
         'SWIM' || lpad(cast(width AS varchar), 5, '0')
                || lpad(cast(height AS varchar), 5, '0') || text AS full_str,
         lower(hex(encode(text))) AS ph
  FROM wh
)
SELECT doc_id,
       14 + plen AS n_bytes,
       md5(full_str) AS digest,
       '5357494d' AS header,
       cast(width AS int) AS width,
       cast(height AS int) AS height,
       cast(list_sum(list_transform(range(plen), i ->
            (instr('0123456789abcdef', substr(ph, 2 * cast(i AS int) + 1, 1)) - 1) * 16
          + (instr('0123456789abcdef', substr(ph, 2 * cast(i AS int) + 2, 1)) - 1)))
            AS bigint) AS sum_bytes
FROM b ORDER BY doc_id
"""


# -------------------------------------------- mix / balance / rank ops
def q_sample_stratified_cap(spark, sf):
    """At most 10 docs per language, picked deterministically by hash
    order — the 'cap each domain' training-mix primitive (exact counts,
    unlike rate-based sampling)."""
    from .ops.sampling import stratified_cap

    return (
        stratified_cap(_docs(spark, sf), "lang", cap=10, key="doc_id")
        .select("lang", "doc_id", "rk")
        .orderBy("lang", "rk")
    )


SQL_STRATIFIED_CAP = f"""
WITH b AS (SELECT lang, doc_id,
                  {_md5_bucket_sql('doc_id', 'swarm-strat')} AS bkt
           FROM documents),
r AS (SELECT lang, doc_id,
             cast(row_number() OVER (PARTITION BY lang ORDER BY bkt, doc_id)
                  AS bigint) AS rk
      FROM b)
SELECT lang, doc_id, rk FROM r WHERE rk <= 10 ORDER BY lang, rk
"""


def q_sample_balance_langs(spark, sf):
    """Rebalance every language down to the SMALLEST language's doc
    count (cap=None computes the min stratum size) — exact, hash-order
    deterministic; the output is a balanced multilingual mix."""
    from .ops.sampling import stratified_cap

    return (
        stratified_cap(_docs(spark, sf), "lang", cap=None, key="doc_id")
        .select("lang", "doc_id", "rk")
        .orderBy("lang", "rk")
    )


SQL_BALANCE_LANGS = f"""
WITH mn AS (SELECT min(c) AS cap FROM
            (SELECT count(*) AS c FROM documents GROUP BY lang)),
b AS (SELECT lang, doc_id,
             {_md5_bucket_sql('doc_id', 'swarm-strat')} AS bkt
      FROM documents),
r AS (SELECT lang, doc_id,
             cast(row_number() OVER (PARTITION BY lang ORDER BY bkt, doc_id)
                  AS bigint) AS rk
      FROM b)
SELECT lang, doc_id, rk FROM r, mn WHERE rk <= cap ORDER BY lang, rk
"""


def q_sample_token_budget(spark, sf):
    """2000 TOKENS per language, deterministic hash order — the "N
    tokens per domain" sampling-spec shape (doc-count caps don't
    control what a mix actually spends). Keeps every doc that starts
    before the budget line; the prefix sum is two-phase (no
    per-stratum window task)."""
    from .ops.sampling import token_budget_sample

    return (
        token_budget_sample(_docs(spark, sf), "lang", budget=2000, key="doc_id")
        .select("lang", "doc_id", "n_tok", "cum_tok")
        .orderBy("lang", "cum_tok")
    )


SQL_TOKEN_BUDGET = f"""
WITH t AS (SELECT lang, doc_id,
                  cast(len(regexp_split_to_array(text, ' +')) AS bigint) AS n_tok,
                  {_md5_bucket_sql('doc_id', 'swarm-budget')} AS bkt
           FROM documents),
c AS (SELECT lang, doc_id, n_tok,
             cast(sum(n_tok) OVER (PARTITION BY lang ORDER BY bkt, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
                 AS cum_tok
      FROM t)
SELECT lang, doc_id, n_tok, cum_tok FROM c
WHERE cum_tok - n_tok < 2000 ORDER BY lang, cum_tok
"""


_MIX_PPM = {"en": 400_000, "de": 150_000, "es": 150_000, "fr": 150_000, "zh": 150_000}


def q_corpus_mixture_plan(spark, sf):
    """Data-mixture plan: the largest token budget this corpus can
    serve at a 40/15/15/15/15 language mix, and each language's
    allocation — the stratum that runs out first caps the whole mix.
    Integral ppm weights keep the arithmetic engine-exact."""
    from .ops.sampling import mixture_plan

    return mixture_plan(_docs(spark, sf), "lang", _MIX_PPM)


_MIX_VALUES = ", ".join(f"('{s}', {p})" for s, p in sorted(_MIX_PPM.items()))
SQL_MIXTURE_PLAN = f"""
WITH a AS (SELECT lang,
                  cast(sum(len(regexp_split_to_array(text, ' +'))) AS bigint)
                      AS tokens_avail
           FROM documents GROUP BY 1),
w AS (SELECT * FROM (VALUES {_MIX_VALUES}) AS w(lang, weight_ppm)),
j AS (SELECT a.lang, a.tokens_avail, cast(w.weight_ppm AS int) AS weight_ppm,
             cast(a.tokens_avail * 1000000 // w.weight_ppm AS bigint) AS cap
      FROM a JOIN w USING (lang)),
m AS (SELECT cast(min(cap) AS bigint) AS budget_tokens FROM j)
SELECT j.lang, j.tokens_avail, j.weight_ppm, m.budget_tokens,
       cast(j.weight_ppm * m.budget_tokens // 1000000 AS bigint) AS take_tokens
FROM j, m ORDER BY j.lang
"""


def q_text_hash_embed(spark, sf):
    """Signed hashing-trick document vectors (dim 64, unit-L2):
    model-free featurization that feeds raw text into the embedding
    tier. Emitted exploded (doc_id, d, val) so every component is a
    hash-checked scalar; the squared norm accumulates in LONGs, so the
    single rounded division is the only float op."""
    from .ops.text import hashed_embedding

    emb = hashed_embedding(_docs(spark, sf), dim=64)
    return emb.select(
        "doc_id", F.posexplode("vec").alias("d", "val")
    ).orderBy("doc_id", "d")


SQL_HASH_EMBED = f"""
WITH w AS ({_WS}),
tk AS (SELECT doc_id, unnest(ws) AS tok FROM w),
sg AS (SELECT doc_id,
              {_md5_bucket_sql('tok', 'swarm-htf')} % 64 AS d,
              ({_md5_bucket_sql('tok', 'swarm-htf-sign')} % 2) * 2 - 1 AS s
       FROM tk),
c AS (SELECT doc_id, d, cast(sum(s) AS bigint) AS v FROM sg GROUP BY 1, 2),
n AS (SELECT doc_id, cast(sum(v * v) AS bigint) AS n2 FROM c GROUP BY 1),
grid AS (SELECT doc_id, unnest(range(64)) AS d
         FROM (SELECT DISTINCT doc_id FROM w)),
fl AS (SELECT g.doc_id, cast(g.d AS int) AS d, coalesce(c.v, 0) AS v
       FROM grid g LEFT JOIN c ON g.doc_id = c.doc_id AND g.d = c.d)
SELECT fl.doc_id, fl.d,
       CASE WHEN n.n2 = 0 THEN cast(fl.v AS double)
            ELSE round(cast(fl.v AS double) / sqrt(cast(n.n2 AS double)), 9)
       END AS val
FROM fl JOIN n USING (doc_id) ORDER BY doc_id, d
"""


def q_dedup_semantic_text(spark, sf):
    """The end-to-end semantic tier over RAW TEXT: hashed-trick
    vectors -> deterministic k-means cells -> within-cell cosine
    pairs. No model anywhere, yet paraphrase-grade near-dups surface —
    and the whole composition is value-oracled: the hashed vectors,
    the Lloyd iterations, and the pair scores all reproduce in SQL."""
    from .ops.semdedup import semantic_dup_pairs
    from .ops.text import hashed_embedding

    emb = hashed_embedding(_docs(spark, sf), dim=64)
    return semantic_dup_pairs(
        emb, vec_col="vec", id_col="doc_id", n_cells=8, iters=3, threshold=0.9
    )


_HTF_IBASE = f"""
  SELECT id, v, list_dot_product(v, v) AS vn2 FROM (
    SELECT doc_id AS id, list(val ORDER BY d) AS v
    FROM ({SQL_HASH_EMBED}) GROUP BY 1)"""

SQL_DEDUP_SEMANTIC_TEXT = _ivf_oracle_sql(
    ibase_sql=_HTF_IBASE,
    final_select=f"""
SELECT a.id AS id_a, b.id AS id_b, a.cell AS cell, {_SEM_COS} AS cos
FROM afin a JOIN afin b ON a.cell = b.cell AND a.id < b.id
JOIN ibase va ON va.id = a.id
JOIN ibase vb ON vb.id = b.id
WHERE {_SEM_COS} >= 0.9
ORDER BY id_a, id_b""",
)


def q_dedup_signlsh_recall(spark, sf):
    """Declared recall gate for the sign-LSH tier at its DESIGN point
    (high cosine — at cos 0.9 a 2-bit band matches with p≈0.73, so 8
    bands catch ≈100%; at low cosine sign-LSH is the wrong tool and
    the cell-blocked tiers apply): candidates must cover ≥ 90% of the
    same-kmeans-cell cos-≥-0.9 pairs over the hashed doc vectors —
    the exact pair set `dedup_semantic_text` oracles. Deterministic:
    planes are md5-Rademacher literals."""
    from .ops.semdedup import semantic_dup_pairs
    from .ops.text import hashed_embedding

    emb = hashed_embedding(_docs(spark, sf), dim=64)
    truth = semantic_dup_pairs(
        emb, vec_col="vec", id_col="doc_id", n_cells=8, iters=3, threshold=0.9
    ).select("id_a", "id_b")
    cand = embedding_signlsh_pairs(
        emb,
        vec_col="vec",
        id_col="doc_id",
        num_planes=16,
        bands=8,
        threshold=0.9,
        dim=64,
    ).select("id_a", "id_b")
    hits = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    total = truth.agg(F.count(F.lit(1)).alias("n_true"))
    return hits.crossJoin(F.broadcast(total)).select(
        "n_true",
        (F.col("n_hits") * 100 >= F.col("n_true") * 90).alias("recall_ge_90pct"),
    )


SQL_SIGNLSH_RECALL = _ivf_oracle_sql(
    ibase_sql=_HTF_IBASE,
    final_select=f"""
SELECT cast(count(*) AS bigint) AS n_true, true AS recall_ge_90pct
FROM afin a JOIN afin b ON a.cell = b.cell AND a.id < b.id
JOIN ibase va ON va.id = a.id
JOIN ibase vb ON vb.id = b.id
WHERE {_SEM_COS} >= 0.9""",
)


def q_dedup_substring_runs(spark, sf):
    """Exact shared-substring runs ≥ 16 tokens (8-gram diagonals,
    gaps-and-islands merge) — the ExactSubstr verbatim-copy signal
    that set-based similarity underweights."""
    from .ops.dedup import shared_substring_runs

    return shared_substring_runs(_docs(spark, sf), k=8, min_run=16)


def _substr_runs_sql(k: int = 8, min_run: int = 16, max_df: int = 100) -> str:
    terms = " || ' ' || ".join(f"ws[i + {j + 1}]" for j in range(k))
    return f"""
WITH w AS ({_WS}),
t AS (SELECT doc_id, ws FROM w WHERE len(ws) >= {k}),
p AS (SELECT doc_id, unnest(range(len(ws) - {k - 1})) AS i, ws FROM t),
g AS (SELECT doc_id, cast(i AS bigint) AS i, md5({terms}) AS sh FROM p),
keep AS (SELECT sh FROM g GROUP BY 1 HAVING count(*) <= {max_df}),
gp AS (SELECT g.* FROM g JOIN keep USING (sh)),
m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS pa, b.i AS pb,
             a.i - b.i AS diag
      FROM gp a JOIN gp b ON a.sh = b.sh AND a.doc_id < b.doc_id),
r AS (SELECT doc_a, doc_b, diag, pa, pb,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                     ORDER BY pa) AS island
      FROM m)
SELECT doc_a, doc_b, cast(min(pa) AS bigint) AS start_a,
       cast(min(pb) AS bigint) AS start_b,
       cast(count(*) + {k - 1} AS bigint) AS run_tokens
FROM r GROUP BY doc_a, doc_b, diag, island
HAVING count(*) + {k - 1} >= {min_run}
ORDER BY doc_a, doc_b, start_a
"""


SQL_SUBSTRING_RUNS = _substr_runs_sql()


def q_text_chunks(spark, sf):
    """Sliding-window token chunking (size 32, overlap 8): the
    RAG-indexing splitter — per-document windows, boundaries kept,
    pure codegen (array transform + explode; chunking is scan-bound
    at any corpus size)."""
    from .ops.text import chunk_text

    return chunk_text(_docs(spark, sf), size=32, overlap=8)


SQL_TEXT_CHUNKS = f"""
WITH w AS ({_WS}),
t AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
s AS (SELECT doc_id, ws, n,
             unnest(range(0, (CASE WHEN n <= 32 THEN 0
                              ELSE (n - 32 + 23) // 24 END) + 1)) AS chunk_id
      FROM t)
SELECT doc_id, cast(chunk_id AS bigint) AS chunk_id,
       cast(chunk_id * 24 AS bigint) AS start_tok,
       cast(least(32, n - chunk_id * 24) AS bigint) AS n_tok,
       array_to_string(list_slice(ws, chunk_id * 24 + 1, chunk_id * 24 + 32),
                       ' ') AS chunk
FROM s ORDER BY doc_id, chunk_id
"""


def q_text_nb_quality(spark, sf):
    """Learned corpus-quality scorer (hashed-feature Naive Bayes, the
    public fastText-shape classifier): train on the lang=='en' slice
    as the known-good class — counts-only training, one fused
    scan/aggregation — then score every doc by prior + Σ bucket
    log-likelihood ratio in integer micro-nats (broadcast model join,
    the DSIR shape). pred_good is the resulting quality gate."""
    from .ops.text import nb_score_quality, nb_train_quality

    docs = _docs(spark, sf)
    model = nb_train_quality(docs, F.col("lang") == "en", num_buckets=4096)
    return nb_score_quality(docs, model, num_buckets=4096)


SQL_NB_QUALITY = f"""
WITH w AS (SELECT doc_id, lang, regexp_split_to_array(text, ' +') AS ws
           FROM documents),
tk AS (SELECT doc_id, (lang = 'en') AS is_p, unnest(ws) AS tok FROM w),
bk AS (SELECT doc_id, is_p,
              {_md5_bucket_sql('tok', 'swarm-nb')} % 4096 AS bkt
       FROM tk),
ag AS (SELECT bkt, cast(count(*) AS bigint) AS cr,
              cast(sum(CASE WHEN is_p THEN 1 ELSE 0 END) AS bigint) AS cp
       FROM bk GROUP BY 1),
tt AS (SELECT cast(sum(cp) AS bigint) AS tp,
              cast(sum(cr - cp) AS bigint) AS tn FROM ag),
dc AS (SELECT cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS bigint) AS dp,
              cast(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS bigint) AS dn
       FROM w WHERE ws IS NOT NULL),
st AS (SELECT bkt,
              cast(round((ln((cp + 1) / (tp + 4096.0))
                        - ln((cr - cp + 1) / (tn + 4096.0))) * 1000000)
                   AS bigint) AS lr
       FROM ag, tt),
pr AS (SELECT cast(round(ln((dp + 1.0) / (dn + 1.0)) * 1000000) AS bigint) AS p
       FROM dc)
SELECT bk.doc_id, cast(count(*) AS bigint) AS n_tokens,
       cast(pr.p + sum(st.lr) AS bigint) AS score_micro,
       (pr.p + sum(st.lr)) > 0 AS pred_good
FROM bk JOIN st USING (bkt), pr
GROUP BY bk.doc_id, pr.p
ORDER BY doc_id
"""


def q_text_nb_eval(spark, sf):
    """The NB quality scorer's measured operating curve: train on the
    even-doc_id half (lang=='en' as the known-good class), evaluate on
    the odd-doc_id HOLDOUT over a threshold sweep — exact integer
    confusion counts and precision/recall/accuracy/F1 in micro-units
    per threshold. Holdout tokens hashing to buckets unseen in
    training exercise the model's stored unseen-default path. This is
    the gate that turns ``curate --nb-model`` from a bare sign test
    into a measured threshold choice."""
    from .ops.text import nb_eval_quality, nb_train_quality

    docs = _docs(spark, sf)
    model = nb_train_quality(
        docs.where(F.col("doc_id") % 2 == 0), F.col("lang") == "en",
        num_buckets=4096,
    )
    return nb_eval_quality(
        docs.where(F.col("doc_id") % 2 == 1), model, F.col("lang") == "en",
        thresholds=_NB_EVAL_THRESHOLDS, num_buckets=4096,
    )


# the sweep brackets the holdout score distribution (scores are length-
# scaled sums of per-token llrs, so the bracket is stable across SFs);
# 0 pins the degenerate all-negative sign test for contrast
_NB_EVAL_THRESHOLDS = [-12_000_000, -11_000_000, -10_000_000, 0]


SQL_NB_EVAL = f"""
WITH w AS (SELECT doc_id, lang, regexp_split_to_array(text, ' +') AS ws
           FROM documents),
tk AS (SELECT doc_id, (lang = 'en') AS is_p, unnest(ws) AS tok FROM w
       WHERE doc_id % 2 = 0),
bk AS (SELECT doc_id, is_p,
              {_md5_bucket_sql('tok', 'swarm-nb')} % 4096 AS bkt
       FROM tk),
ag AS (SELECT bkt, cast(count(*) AS bigint) AS cr,
              cast(sum(CASE WHEN is_p THEN 1 ELSE 0 END) AS bigint) AS cp
       FROM bk GROUP BY 1),
tt AS (SELECT cast(sum(cp) AS bigint) AS tp_tok,
              cast(sum(cr - cp) AS bigint) AS tn_tok FROM ag),
dc AS (SELECT cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS bigint) AS dp,
              cast(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS bigint) AS dn
       FROM w WHERE ws IS NOT NULL AND doc_id % 2 = 0),
st AS (SELECT bkt,
              cast(round((ln((cp + 1) / (tp_tok + 4096.0))
                        - ln((cr - cp + 1) / (tn_tok + 4096.0))) * 1000000)
                   AS bigint) AS lr
       FROM ag, tt),
pr AS (SELECT cast(round(ln((dp + 1.0) / (dn + 1.0)) * 1000000) AS bigint) AS p
       FROM dc),
un AS (SELECT cast(round(ln((tn_tok + 4096.0) / (tp_tok + 4096.0)) * 1000000)
              AS bigint) AS u
       FROM tt),
hk AS (SELECT doc_id, (lang = 'en') AS y,
              {_md5_bucket_sql('tok', 'swarm-nb')} % 4096 AS bkt
       FROM (SELECT doc_id, lang, unnest(ws) AS tok FROM w
             WHERE doc_id % 2 = 1)),
sc AS (SELECT hk.doc_id, hk.y,
              cast(pr.p + sum(coalesce(st.lr, un.u)) AS bigint) AS score
       FROM hk LEFT JOIN st USING (bkt), pr, un
       GROUP BY hk.doc_id, hk.y, pr.p, un.u),
th AS (SELECT cast(unnest([-12000000, -11000000, -10000000, 0]) AS bigint)
              AS threshold_micro),
cf AS (SELECT th.threshold_micro,
    cast(sum(CASE WHEN score > th.threshold_micro AND y
             THEN 1 ELSE 0 END) AS bigint) AS tp,
    cast(sum(CASE WHEN score > th.threshold_micro AND NOT y
             THEN 1 ELSE 0 END) AS bigint) AS fp,
    cast(sum(CASE WHEN score <= th.threshold_micro AND y
             THEN 1 ELSE 0 END) AS bigint) AS fn,
    cast(sum(CASE WHEN score <= th.threshold_micro AND NOT y
             THEN 1 ELSE 0 END) AS bigint) AS tn
  FROM sc, th GROUP BY 1)
SELECT threshold_micro, tp, fp, fn, tn,
  CASE WHEN tp + fp > 0
       THEN cast(round(1000000.0 * tp / (tp + fp)) AS bigint) END
      AS precision_micro,
  CASE WHEN tp + fn > 0
       THEN cast(round(1000000.0 * tp / (tp + fn)) AS bigint) END
      AS recall_micro,
  CASE WHEN tp + fp + fn + tn > 0
       THEN cast(round(1000000.0 * (tp + tn) / (tp + fp + fn + tn)) AS bigint) END
      AS accuracy_micro,
  CASE WHEN 2 * tp + fp + fn > 0
       THEN cast(round(1000000.0 * 2 * tp / (2 * tp + fp + fn)) AS bigint) END
      AS f1_micro
FROM cf ORDER BY threshold_micro
"""


def q_text_dsir(spark, sf):
    """DSIR importance weights toward the English slice: every doc
    scored by Σ hashed-bigram ln(p_target/p_raw) in integer micro-nats
    — the model-free data-selection ranking (rank or sample ∝ weight
    to shift a 100-TB corpus toward a target domain)."""
    from .ops.text import dsir_importance

    # predicate-form target: raw + target stats fuse into one scan
    return dsir_importance(_docs(spark, sf), F.col("lang") == "en")


SQL_DSIR = f"""
WITH w AS (SELECT doc_id, lang, regexp_split_to_array(text, ' +') AS ws
           FROM documents),
bg AS (SELECT doc_id, lang,
              unnest(list_transform(range(greatest(len(ws) - 1, 0)),
                     i -> ws[i + 1] || ' ' || ws[i + 2])) AS bg
       FROM w),
bk AS (SELECT doc_id, lang,
              {_md5_bucket_sql('bg', 'swarm-dsir')} % 4096 AS bkt
       FROM bg),
raw AS (SELECT bkt, cast(count(*) AS bigint) AS cr FROM bk GROUP BY 1),
tgt AS (SELECT bkt, cast(count(*) AS bigint) AS ct FROM bk
        WHERE lang = 'en' GROUP BY 1),
rt AS (SELECT cast(sum(cr) AS bigint) AS rt FROM raw),
tt AS (SELECT cast(coalesce(sum(ct), 0) AS bigint) AS tt FROM tgt),
stats AS (SELECT raw.bkt,
                 cast(round((ln((coalesce(ct, 0) + 1) / (tt + 4096.0))
                           - ln((cr + 1) / (rt + 4096.0))) * 1000000)
                      AS bigint) AS lr
          FROM raw LEFT JOIN tgt USING (bkt), rt, tt)
SELECT bk.doc_id, cast(count(*) AS bigint) AS n_bigrams,
       cast(sum(lr) AS bigint) AS importance_micro
FROM bk JOIN stats USING (bkt) GROUP BY 1 ORDER BY 1
"""


def q_sample_mixture(spark, sf):
    """The mixture pipeline end-to-end: plan the largest budget the
    corpus serves at the 40/15/15/15/15 weights, then keep each
    language's hash-order token prefix up to its allocation — the
    materialized training mix, fully oracled through both stages."""
    from .ops.sampling import sample_to_mixture

    return (
        sample_to_mixture(_docs(spark, sf), "lang", _MIX_PPM, key="doc_id")
        .select("lang", "doc_id", "n_tok", "cum_tok")
        .orderBy("lang", "cum_tok")
    )


SQL_SAMPLE_MIXTURE = f"""
WITH a AS (SELECT lang,
                  cast(sum(len(regexp_split_to_array(text, ' +'))) AS bigint)
                      AS tokens_avail
           FROM documents GROUP BY 1),
wt AS (SELECT * FROM (VALUES {_MIX_VALUES}) AS wt(lang, weight_ppm)),
j AS (SELECT a.lang, cast(a.tokens_avail * 1000000 // wt.weight_ppm AS bigint)
             AS cap, wt.weight_ppm
      FROM a JOIN wt USING (lang)),
m AS (SELECT cast(min(cap) AS bigint) AS budget_tokens FROM j),
tk AS (SELECT j.lang,
              cast(j.weight_ppm * m.budget_tokens // 1000000 AS bigint) AS take
       FROM j, m),
t AS (SELECT lang, doc_id,
             cast(len(regexp_split_to_array(text, ' +')) AS bigint) AS n_tok,
             {_md5_bucket_sql('doc_id', 'swarm-budget')} AS bkt
      FROM documents),
c AS (SELECT lang, doc_id, n_tok,
             cast(sum(n_tok) OVER (PARTITION BY lang ORDER BY bkt, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
                 AS cum_tok
      FROM t)
SELECT c.lang, c.doc_id, c.n_tok, c.cum_tok
FROM c JOIN tk USING (lang)
WHERE c.cum_tok - c.n_tok < tk.take ORDER BY c.lang, c.cum_tok
"""


def q_tfidf_top_terms(spark, sf):
    """Top-10 tokens per language by tf·ln(N/df) — the per-slice
    characteristic-vocabulary report."""
    from .ops.text import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf), top_k=10)


SQL_TFIDF = """
WITH w AS (SELECT doc_id, lang,
                  regexp_split_to_array(text, ' +') AS ws FROM documents),
e AS (SELECT doc_id, lang AS stratum, unnest(ws) AS tok FROM w),
tf AS (SELECT stratum, tok, cast(count(*) AS bigint) AS tf FROM e GROUP BY 1, 2),
dfq AS (SELECT tok, cast(count(DISTINCT doc_id) AS bigint) AS doc_freq
        FROM e GROUP BY 1),
n AS (SELECT cast(count(*) AS bigint) AS n FROM documents),
s AS (SELECT stratum, tok AS token, tf, doc_freq,
             round(tf * ln(n * 1.0 / doc_freq), 6) AS score
      FROM tf JOIN dfq USING (tok), n),
r AS (SELECT *, cast(row_number() OVER (PARTITION BY stratum
            ORDER BY score DESC, token) AS bigint) AS rk
      FROM s)
SELECT stratum, token, tf, doc_freq, score, rk
FROM r WHERE rk <= 10 ORDER BY stratum, rk
"""


def q_knn_classify(spark, sf):
    """Majority-label vote over each query's 5 nearest neighbors by
    cosine (self excluded; vote ties -> smaller label)."""
    from .ops.similarity import knn_classify

    emb = _emb(spark, sf)
    return knn_classify(emb, emb.where(F.col("vec_id") % 50 == 0), k=5)


SQL_KNN_CLASSIFY = f"""
WITH q AS (SELECT vec_id AS query_id, cast(embedding AS double[]) AS qv
           FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS id, cast(label AS bigint) AS nbr_label,
             cast(embedding AS double[]) AS cv FROM embeddings),
j AS (SELECT query_id, id, nbr_label, {_QCOS} AS cos
      FROM c, q WHERE query_id != id),
r AS (SELECT query_id, nbr_label,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS rank
      FROM j),
v AS (SELECT query_id, nbr_label, cast(count(*) AS bigint) AS votes
      FROM r WHERE rank <= 5 GROUP BY 1, 2),
p AS (SELECT query_id, nbr_label, votes,
             row_number() OVER (PARTITION BY query_id
                  ORDER BY votes DESC, nbr_label) AS pr
      FROM v)
SELECT query_id, nbr_label AS pred_label, votes
FROM p WHERE pr = 1 ORDER BY query_id
"""


def q_text_surprisal(spark, sf):
    """Per-doc average unigram surprisal vs the corpus's own token
    distribution (micro-nat integer accumulation — order-independent,
    engine-exact)."""
    from .ops.text import unigram_surprisal

    return unigram_surprisal(_docs(spark, sf))


SQL_SURPRISAL = f"""
WITH w AS ({_WS}),
e AS (SELECT doc_id, unnest(ws) AS tok FROM w),
c AS (SELECT tok, cast(count(*) AS bigint) AS c FROM e GROUP BY 1),
t AS (SELECT cast(sum(c) AS bigint) AS t FROM c),
m AS (SELECT tok, cast(round(-ln(c * 1.0 / t) * 1000000) AS bigint) AS ms
      FROM c, t),
d AS (SELECT doc_id, cast(count(*) AS bigint) AS n_tokens,
             cast(sum(ms) AS bigint) AS s
      FROM e JOIN m USING (tok) GROUP BY 1)
SELECT doc_id, n_tokens,
       cast((2 * s + n_tokens) // (2 * n_tokens) AS bigint) AS avg_surprisal_micro
FROM d ORDER BY doc_id
"""


def q_text_bigram_surprisal(spark, sf):
    """Per-doc average bigram surprisal vs the corpus's own
    Laplace-smoothed conditional model — one order up from the unigram
    proxy (predictable transitions score low; token soup scores
    high); micro-nat integer accumulation, engine-exact."""
    from .ops.text import bigram_surprisal

    return bigram_surprisal(_docs(spark, sf))


SQL_BIGRAM_SURPRISAL = f"""
WITH w AS ({_WS}),
e AS (SELECT doc_id, unnest(ws) AS tok FROM w),
bg AS (SELECT doc_id,
              unnest(list_transform(range(greatest(len(ws) - 1, 0)),
                     i -> struct_pack(prev := ws[i + 1], cur := ws[i + 2]))) AS b
       FROM w),
bu AS (SELECT doc_id, b.prev AS prev, b.cur AS cur FROM bg),
v AS (SELECT cast(count(DISTINCT tok) AS bigint) AS v FROM e),
bi AS (SELECT prev, cur, cast(count(*) AS bigint) AS cb FROM bu GROUP BY 1, 2),
pt AS (SELECT prev, cast(sum(cb) AS bigint) AS cp FROM bi GROUP BY 1),
m AS (SELECT bi.prev, bi.cur,
             cast(round(-ln((bi.cb + 1) * 1.0 / (pt.cp + v.v)) * 1000000)
                  AS bigint) AS micro
      FROM bi JOIN pt USING (prev), v),
d AS (SELECT doc_id, cast(count(*) AS bigint) AS n_bigrams,
             cast(sum(micro) AS bigint) AS s
      FROM bu JOIN m USING (prev, cur) GROUP BY 1)
SELECT doc_id, n_bigrams,
       cast((2 * s + n_bigrams) // (2 * n_bigrams) AS bigint)
           AS avg_surprisal_micro
FROM d ORDER BY doc_id
"""


def q_dedup_ngram_coverage(spark, sf):
    """Per-doc duplicate-shingle coverage: fraction of each doc's
    distinct 3-gram shingles that appear in more than one document."""
    from .ops.dedup import dup_ngram_coverage

    return dup_ngram_coverage(_docs(spark, sf), n=3)


SQL_NGRAM_COVERAGE = f"""
WITH {_shingle_cte(3)},
d AS (SELECT sh, cast(count(*) AS bigint) AS dfreq FROM s GROUP BY 1),
r AS (SELECT s.doc_id, cast(count(*) AS bigint) AS n_shingles,
             cast(sum(CASE WHEN dfreq > 1 THEN 1 ELSE 0 END) AS bigint) AS n_dup
      FROM s JOIN d USING (sh) GROUP BY 1)
SELECT doc_id, n_shingles, n_dup,
       round(n_dup * 1.0 / n_shingles, 6) AS dup_frac
FROM r ORDER BY doc_id
"""


def q_multimodal_frame_sample(spark, sf):
    """Frame-sampling plumbing over fake binary videos: every 3rd
    32-byte frame kept; integral byte sum + md5 of the sampled bytes
    are the decode stand-ins (DuckDB rebuilds the same frames from the
    source text)."""
    from .ops.multimodal import attach_fake_video, sample_frames

    return sample_frames(
        attach_fake_video(_docs(spark, sf)), frame_bytes=32, stride=3
    ).orderBy("doc_id")


SQL_FRAME_SAMPLE = """
WITH m AS (SELECT doc_id, text, length(text) AS plen FROM documents),
s AS (SELECT doc_id,
             cast(ceil(plen / 32.0) AS bigint) AS n_frames,
             coalesce(list_aggregate(list_transform(
                 range(0, cast(ceil(plen / 32.0) AS bigint), 3),
                 i -> substr(text, cast(i AS int) * 32 + 1, 32)),
                 'string_agg', ''), '') AS samp
      FROM m),
h AS (SELECT doc_id, n_frames, samp, lower(hex(encode(samp))) AS sh FROM s)
SELECT doc_id, n_frames,
       cast((n_frames + 2) // 3 AS bigint) AS n_sampled,
       cast(coalesce(list_sum(list_transform(range(length(sh) // 2), i ->
            (instr('0123456789abcdef', substr(sh, 2 * cast(i AS int) + 1, 1)) - 1) * 16
          + (instr('0123456789abcdef', substr(sh, 2 * cast(i AS int) + 2, 1)) - 1))), 0)
          AS bigint) AS sum_sampled,
       md5(samp) AS digest
FROM h ORDER BY doc_id
"""


def q_embedding_quantize(spark, sf):
    """Int8 quantization stats per embedding (symmetric, floor) — the
    compression pre-step for billion-vector ANN."""
    from .ops.similarity import quantize_embeddings

    return quantize_embeddings(_emb(spark, sf))


SQL_EMB_QUANTIZE = """
WITH v AS (SELECT vec_id AS id, cast(embedding AS double[]) AS e FROM embeddings),
s AS (SELECT id, e, list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
q AS (SELECT id, scale, len(e) AS dim,
             list_transform(e, x -> CASE WHEN scale = 0 THEN 0
                  ELSE cast(floor(x * 127 / scale) AS bigint) END) AS qs
      FROM s)
SELECT id, cast(dim AS bigint) AS dim,
       cast(round(scale * 1000000) AS bigint) AS scale_micro,
       cast(list_sum(qs) AS bigint) AS sum_q,
       cast(list_min(qs) AS bigint) AS min_q,
       cast(list_max(qs) AS bigint) AS max_q
FROM q ORDER BY id
"""


def q_ann_topk_int8(spark, sf):
    """Top-5 by cosine over int8-quantized vectors — deterministic
    quantization makes the whole compressed search path value-hashable
    against DuckDB."""
    from .ops.similarity import ann_topk_int8

    emb = _emb(spark, sf)
    return ann_topk_int8(emb, emb.where(F.col("vec_id") % 100 == 0), k=5)


_QUANT = (
    "list_transform(e, x -> CASE WHEN scale = 0 THEN cast(0 AS double) "
    "ELSE floor(x * 127 / scale) END)"
)
SQL_ANN_INT8 = f"""
WITH v AS (SELECT vec_id, cast(embedding AS double[]) AS e,
                  list_max(list_transform(cast(embedding AS double[]),
                                          x -> abs(x))) AS scale
           FROM embeddings),
z AS (SELECT vec_id, {_QUANT} AS qe FROM v),
q AS (SELECT vec_id AS query_id, qe AS qv FROM z WHERE vec_id % 100 = 0
      AND list_dot_product(qe, qe) > 0),
c AS (SELECT vec_id AS id, qe AS cv FROM z
      WHERE list_dot_product(qe, qe) > 0),
j AS (SELECT query_id, id,
             round(list_dot_product(qv, cv)
                 / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)), 9)
                 AS cos
      FROM c, q WHERE query_id != id),
r AS (SELECT query_id, id, cos,
             cast(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id)
                  AS bigint) AS rank
      FROM j)
SELECT query_id, id, cos, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_dedup_containment(spark, sf):
    """Asymmetric containment pairs (inter/|A| or inter/|B| >= 0.75
    over 3-gram shingles, DF-pruned) — subset-duplicate detection."""
    from .ops.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        _docs(spark, sf), n=3, threshold=0.75, max_df=_MAX_DF
    )


SQL_CONTAINMENT = f"""
WITH {_shingle_cte(3, _MAX_DF)},
sz AS (SELECT doc_id, cast(count(*) AS bigint) AS n_sh FROM s GROUP BY 1),
i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             cast(count(*) AS bigint) AS inter
      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
SELECT doc_a, doc_b, inter, sa.n_sh AS na, sb.n_sh AS nb,
       round(inter * 1.0 / sa.n_sh, 6) AS cont_a,
       round(inter * 1.0 / sb.n_sh, 6) AS cont_b
FROM i JOIN sz sa ON i.doc_a = sa.doc_id
       JOIN sz sb ON i.doc_b = sb.doc_id
WHERE round(inter * 1.0 / sa.n_sh, 6) >= 0.75
   OR round(inter * 1.0 / sb.n_sh, 6) >= 0.75
ORDER BY doc_a, doc_b
"""


def q_text_winnow(spark, sf):
    """Winnowing fingerprint summary per doc (k=3 grams, window 4):
    fingerprint count + lexical min — the MOSS-style local dedup
    index."""
    from .ops.text import winnow_fingerprints

    fp = winnow_fingerprints(_docs(spark, sf), k=3, w=4)
    return (
        fp.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fp"),
            F.min("fp").alias("fp_min"),
        )
        .orderBy("doc_id")
    )


SQL_WINNOW = f"""
WITH w AS ({_WS}),
e AS (SELECT doc_id, cast(i AS bigint) AS i,
             md5(ws[cast(i AS int) + 1] || ' ' || ws[cast(i AS int) + 2]
                 || ' ' || ws[cast(i AS int) + 3]) AS h
      FROM (SELECT doc_id, ws, unnest(range(len(ws) - 2)) AS i
            FROM w WHERE len(ws) >= 3)),
m AS (SELECT doc_id, i,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      FROM e),
fp AS (SELECT DISTINCT doc_id, fp FROM m WHERE i >= 3)
SELECT doc_id, cast(count(*) AS bigint) AS n_fp, min(fp) AS fp_min
FROM fp GROUP BY 1 ORDER BY 1
"""


def q_dedup_winnow_pairs(spark, sf):
    """Winnowing candidate pairs: docs sharing >= 2 selected
    fingerprints (k=3, w=4, DF-pruned)."""
    from .ops.dedup import winnow_pairs

    return winnow_pairs(_docs(spark, sf), k=3, w=4, min_shared=2, max_df=_MAX_DF)


SQL_WINNOW_PAIRS = f"""
WITH w AS ({_WS}),
e AS (SELECT doc_id, cast(i AS bigint) AS i,
             md5(ws[cast(i AS int) + 1] || ' ' || ws[cast(i AS int) + 2]
                 || ' ' || ws[cast(i AS int) + 3]) AS h
      FROM (SELECT doc_id, ws, unnest(range(len(ws) - 2)) AS i
            FROM w WHERE len(ws) >= 3)),
m AS (SELECT doc_id, i,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      FROM e),
f0 AS (SELECT DISTINCT doc_id, fp FROM m WHERE i >= 3),
f AS (SELECT f0.* FROM f0 JOIN (SELECT fp FROM f0 GROUP BY 1
                                HAVING count(*) <= {_MAX_DF}) d USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(count(*) AS bigint) AS shared_fp
FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY doc_a, doc_b
"""


_MINC_CUT = int(0.1 * (1 << 32))


def q_dedup_minhash_incremental(spark, sf):
    """Directional MinHash/LSH: a deterministic 10% hash split plays
    the new ingest wave, deduped against the remaining 90% corpus —
    candidates bounded by the increment, corpus never self-joined."""
    from .ops.dedup import minhash_incremental_pairs
    from .ops.sampling import hash_bucket

    docs = _docs(spark, sf)
    b = hash_bucket("doc_id", "swarm-minc")
    return minhash_incremental_pairs(
        docs.where(b >= _MINC_CUT), docs.where(b < _MINC_CUT)
    )


SQL_MINHASH_INC = f"""
WITH d AS (SELECT doc_id, text,
                  {_md5_bucket_sql('doc_id', 'swarm-minc')} AS bkt
           FROM documents),
w AS (SELECT doc_id, bkt, regexp_split_to_array(text, ' +') AS ws FROM d),
e AS (SELECT doc_id, bkt,
             unnest(list_transform(range(greatest(len(ws)-2, 0)),
                    i -> ws[i+1]||' '||ws[i+2]||' '||ws[i+3])) AS sh
      FROM w),
s AS (SELECT DISTINCT doc_id, bkt, sh FROM e),
sig AS (SELECT doc_id, bkt, p.perm,
               min(md5(cast(p.perm AS varchar)||'|'||sh)) AS sig
        FROM s, (SELECT unnest(range(12)) AS perm) p GROUP BY 1, 2, 3),
sigs AS (SELECT doc_id, bkt, array_agg(sig ORDER BY perm) AS sigs
         FROM sig GROUP BY 1, 2),
banded AS (SELECT doc_id, bkt, sigs, b.band,
                  md5(array_to_string(sigs[b.band*3+1 : b.band*3+3], '|')) AS key
           FROM sigs, (SELECT unnest(range(4)) AS band) b),
pairs AS (SELECT a.doc_id AS inc_id, b.doc_id AS corpus_id,
                 cast(count(DISTINCT a.band) AS bigint) AS shared_bands,
                 any_value(a.sigs) AS sa, any_value(b.sigs) AS sb
          FROM banded a JOIN banded b ON a.key = b.key AND a.band = b.band
          WHERE a.bkt < {_MINC_CUT} AND b.bkt >= {_MINC_CUT}
            AND a.doc_id != b.doc_id
          GROUP BY 1, 2)
SELECT inc_id, corpus_id, shared_bands,
       round(list_sum(list_transform(range(12),
             i -> CASE WHEN sa[i+1] = sb[i+1] THEN 1 ELSE 0 END)) / 12.0, 6)
           AS est_jaccard
FROM pairs ORDER BY inc_id, corpus_id
"""


def q_ann_topk_dot(spark, sf):
    """Exact MIPS top-5 (raw dot product — recommender-style
    retrieval), same scan/ranking shape as the cosine baseline."""
    from .ops.similarity import ann_topk_dot

    emb = _emb(spark, sf)
    return ann_topk_dot(emb, emb.where(F.col("vec_id") % 100 == 0), k=5)


SQL_ANN_DOT = """
WITH q AS (SELECT vec_id AS query_id, cast(embedding AS double[]) AS qv
           FROM embeddings WHERE vec_id % 100 = 0),
c AS (SELECT vec_id AS id, cast(embedding AS double[]) AS cv FROM embeddings),
j AS (SELECT query_id, id, round(list_dot_product(qv, cv), 9) AS dot
      FROM c, q WHERE query_id != id),
r AS (SELECT query_id, id, dot,
             cast(row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, id)
                  AS bigint) AS rank
      FROM j)
SELECT query_id, id, dot, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_corpus_gate_report(spark, sf):
    """One-scan corpus quality report: how many docs pass each
    curation gate (quality, language, length, duplicate coverage is
    separate) and all of them together — the go/no-go summary before a
    training run."""
    from .ops.text import language_pred_expr, quality_expr, tokens_col

    docs = _docs(spark, sf)
    q = quality_expr("text")
    lang = language_pred_expr("text")
    n_tok = F.size(tokens_col("text"))
    g_quality = (q >= 0.5).cast("long")
    g_lang = (lang == "en").cast("long")
    g_len = ((n_tok >= 10) & (n_tok <= 1000)).cast("long")
    return docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(g_quality).cast("long").alias("n_pass_quality"),
        F.sum(g_lang).cast("long").alias("n_pass_lang"),
        F.sum(g_len).cast("long").alias("n_pass_len"),
        F.sum(g_quality * g_lang * g_len).cast("long").alias("n_pass_all"),
    )


SQL_GATE_REPORT = f"""
WITH w AS ({_WS}),
q AS (SELECT doc_id, len(ws) AS n_tok,
             round(0.4 * least(cast(len(ws) AS bigint)/100.0, 1.0)
                 + 0.3 * (cast(len(list_distinct(ws)) AS bigint) * 1.0
                          / cast(len(ws) AS bigint))
                 + 0.3 * least(cast(len(list_filter(ws,
                       t -> list_contains(['the','a','of','and','to','in'], t)))
                       AS bigint) * 5.0 / cast(len(ws) AS bigint), 1.0), 6) AS quality,
             ws
      FROM w),
sc AS (SELECT doc_id, n_tok, quality, {_SCORES} FROM q),
mx AS (SELECT *, greatest(score_en, score_de, score_fr, score_es, score_zh) AS best
       FROM sc),
l AS (SELECT doc_id, n_tok, quality,
             CASE WHEN best = 0 THEN 'und'
                  WHEN score_en = best THEN 'en'
                  WHEN score_de = best THEN 'de'
                  WHEN score_fr = best THEN 'fr'
                  WHEN score_es = best THEN 'es'
                  ELSE 'zh' END AS pred_lang
      FROM mx)
SELECT cast(count(*) AS bigint) AS n_total,
       cast(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS bigint) AS n_pass_quality,
       cast(sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) AS bigint) AS n_pass_lang,
       cast(sum(CASE WHEN n_tok BETWEEN 10 AND 1000 THEN 1 ELSE 0 END) AS bigint) AS n_pass_len,
       cast(sum(CASE WHEN quality >= 0.5 AND pred_lang = 'en'
                      AND n_tok BETWEEN 10 AND 1000 THEN 1 ELSE 0 END) AS bigint) AS n_pass_all
FROM l
"""


_SINC_CUT = int(0.5 * (1 << 32))


def q_dedup_simhash_incremental(spark, sf):
    """Directional SimHash (62-bit, Manku blocks): a 50% hash-split
    wave probes the other half as the corpus — exact pigeonhole
    recall, candidates bounded by the increment. (The even split keeps
    planted near-dup pairs on BOTH sides of the boundary at every
    scale factor, so the query always has signal.)"""
    from .ops.dedup import simhash_incremental_pairs
    from .ops.sampling import hash_bucket

    docs = _docs(spark, sf)
    b = hash_bucket("doc_id", "swarm-sinc2")
    return simhash_incremental_pairs(
        docs.where(b >= _SINC_CUT), docs.where(b < _SINC_CUT), bits=62
    )


SQL_SIMHASH_INC = f"""
WITH {{simhash_cte}},
m AS (SELECT doc_id, simhash,
             {_md5_bucket_sql('doc_id', 'swarm-sinc2')} AS bkt
      FROM sh),
k AS (SELECT doc_id, simhash, bkt, b.b AS blk,
             (simhash >> (cast(b.b AS int) * 16)) & 65535 AS val
      FROM m, (SELECT unnest(range(4)) AS b) b)
SELECT DISTINCT a.doc_id AS inc_id, b.doc_id AS corpus_id,
       cast(bit_count(xor(a.simhash, b.simhash)) AS bigint) AS hamming
FROM k a JOIN k b ON a.blk = b.blk AND a.val = b.val
WHERE a.bkt < {_SINC_CUT} AND b.bkt >= {_SINC_CUT}
  AND a.doc_id != b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY inc_id, corpus_id
""".format(simhash_cte=_simhash_cte(62))


def q_corpus_top_ngrams(spark, sf):
    """Boilerplate mining: the corpus's most-repeated 5-grams with
    occurrence and document counts — the list a C4/CCNet-style cleanup
    filters against. One vocab-keyed aggregation + distributed
    TakeOrdered; the rank window sees only the top-k survivors."""
    from .ops.text import top_ngrams

    return top_ngrams(_docs(spark, sf), n=5, top_k=20, min_count=2)


SQL_TOP_NGRAMS = f"""
WITH w AS ({_WS}),
e AS (SELECT doc_id,
             unnest(list_transform(range(greatest(len(ws) - 4, 0)),
                    i -> ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5]))
                 AS ngram
      FROM w),
c AS (SELECT ngram, cast(count(*) AS bigint) AS count,
             cast(count(DISTINCT doc_id) AS bigint) AS doc_freq
      FROM e GROUP BY 1 HAVING count(*) >= 2)
SELECT ngram, count, doc_freq,
       cast(row_number() OVER (ORDER BY count DESC, ngram) AS bigint) AS rank
FROM c ORDER BY count DESC, ngram LIMIT 20
"""


def q_corpus_tok_quantiles(spark, sf):
    """Exact per-language token-count quantiles (p50/p90/p99) via the
    VALUE-HISTOGRAM form — the scale-safe exact quantile: the corpus
    collapses to a (lang, n_tok) histogram first, so no aggregate ever
    buffers a hot group's raw values (what percentile() would do)."""
    from .ops.text import group_value_quantiles, tokens_col

    docs = _docs(spark, sf).select(
        "lang", F.size(tokens_col("text")).cast("long").alias("n_tok")
    )
    return group_value_quantiles(docs, "lang", "n_tok", q_permille=(500, 900, 990))


def q_corpus_quantiles_incremental(spark, sf):
    """Incremental quantile maintenance is EXACT: the per-group value
    histogram is a count monoid (`histogram_merge` of two waves ==
    full recompute), so corpus-wide token-count quantiles update per
    ingest wave with a histogram-sized union — never a corpus rescan.
    Output compares the merged-path and full-path quantiles per
    (lang, q); `identical` must be all-true."""
    from .ops.text import (
        group_value_quantiles,
        histogram_merge,
        quantiles_from_histogram,
        tokens_col,
        value_histogram_counts,
    )

    docs = _docs(spark, sf).select(
        "doc_id", "lang", F.size(tokens_col("text")).cast("long").alias("n_tok")
    )
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    merged = histogram_merge(
        value_histogram_counts(even, "lang", "n_tok"),
        value_histogram_counts(odd, "lang", "n_tok"),
    )
    mq = quantiles_from_histogram(merged, "lang").select(
        "lang", "q_permille", F.col("value").alias("merged_value"), "n_rows"
    )
    fq = group_value_quantiles(
        docs.select("lang", "n_tok"), "lang", "n_tok"
    ).select("lang", "q_permille", F.col("value").alias("full_value"))
    return (
        mq.join(fq, ["lang", "q_permille"])
        .withColumn("identical", F.col("merged_value") == F.col("full_value"))
        .orderBy("lang", "q_permille")
    )


SQL_QUANTILES_INCR = """
WITH w AS (SELECT lang,
                  cast(len(regexp_split_to_array(text, ' +')) AS bigint) AS v
           FROM documents),
h AS (SELECT lang, v, cast(count(*) AS bigint) AS c FROM w GROUP BY 1, 2),
t AS (SELECT lang, cast(sum(c) AS bigint) AS n_rows FROM h GROUP BY 1),
cu AS (SELECT lang, v,
              sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum
       FROM h),
q AS (SELECT unnest([500, 900, 990]) AS q_permille),
r AS (SELECT cu.lang, cast(q.q_permille AS int) AS q_permille,
             cast(min(cu.v) AS bigint) AS value, t.n_rows
      FROM cu JOIN t USING (lang), q
      WHERE cu.cum >= (q.q_permille * t.n_rows + 999) // 1000
      GROUP BY 1, 2, 4)
SELECT lang, q_permille, value AS merged_value, n_rows,
       value AS full_value, true AS identical
FROM r ORDER BY lang, q_permille
"""


SQL_TOK_QUANTILES = """
WITH w AS (SELECT lang,
                  cast(len(regexp_split_to_array(text, ' +')) AS bigint) AS v
           FROM documents),
h AS (SELECT lang, v, cast(count(*) AS bigint) AS c FROM w GROUP BY 1, 2),
t AS (SELECT lang, cast(sum(c) AS bigint) AS n_rows FROM h GROUP BY 1),
cu AS (SELECT lang, v,
              sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum
       FROM h),
q AS (SELECT unnest([500, 900, 990]) AS q_permille)
SELECT cu.lang, cast(q.q_permille AS int) AS q_permille,
       cast(min(cu.v) AS bigint) AS value, t.n_rows
FROM cu JOIN t USING (lang), q
WHERE cu.cum >= (q.q_permille * t.n_rows + 999) // 1000
GROUP BY 1, 2, 4 ORDER BY 1, 2
"""


def q_corpus_expectations(spark, sf):
    """Ingest-side data-expectation gate over the documents table:
    null/uniqueness/range/accepted-values/regex checks, every count
    from ONE conditional-aggregation scan — the fail-fast quality
    report a pipeline runs before training ever sees the data."""
    from .ops.validate import expectations_report

    return expectations_report(
        _docs(spark, sf),
        [
            ("not_null", "text"),
            ("unique", "doc_id"),
            ("in_range", "n_chars", 1, 100_000),
            ("accepted", "lang", ["en", "de", "fr", "es", "zh"]),
            ("matches", "source", "^src[0-9]+$"),
        ],
    )


SQL_EXPECTATIONS = """
WITH a AS (SELECT
    cast(count(*) AS bigint) AS n,
    cast(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS bigint) AS v_null,
    cast(sum(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END)
         - count(DISTINCT doc_id) AS bigint) AS v_uniq,
    cast(sum(CASE WHEN n_chars IS NOT NULL AND (n_chars < 1 OR n_chars > 100000)
             THEN 1 ELSE 0 END) AS bigint) AS v_range,
    cast(sum(CASE WHEN lang IS NOT NULL
                   AND lang NOT IN ('en','de','fr','es','zh')
             THEN 1 ELSE 0 END) AS bigint) AS v_acc,
    cast(sum(CASE WHEN source IS NOT NULL
                   AND NOT regexp_matches(source, '^src[0-9]+$')
             THEN 1 ELSE 0 END) AS bigint) AS v_re
  FROM documents)
SELECT c.chk AS "check", c.col AS "column", a.n AS n_rows,
       CASE c.chk WHEN 'not_null' THEN a.v_null WHEN 'unique' THEN a.v_uniq
            WHEN 'in_range' THEN a.v_range WHEN 'accepted' THEN a.v_acc
            ELSE a.v_re END AS n_violations,
       (CASE c.chk WHEN 'not_null' THEN a.v_null WHEN 'unique' THEN a.v_uniq
             WHEN 'in_range' THEN a.v_range WHEN 'accepted' THEN a.v_acc
             ELSE a.v_re END) = 0 AS passed
FROM a, (VALUES ('not_null', 'text'), ('unique', 'doc_id'),
                ('in_range', 'n_chars'), ('accepted', 'lang'),
                ('matches', 'source')) AS c(chk, col)
ORDER BY 1, 2
"""


def q_corpus_expectations_approx(spark, sf):
    """Wide uniqueness audit at sketch cost: ``unique_approx`` checks
    ride the deterministic linear-counting bitmap — the whole approx
    batch is ONE extra column-pruned scan whose shuffle is block-keyed
    metadata (≤ checks×n_blocks rows), vs an exact value-space distinct
    per audited column. Exact and approx run side by side on doc_id so
    the driver pins the sketch against the exact surplus."""
    from .ops.validate import expectations_report

    return expectations_report(
        _docs(spark, sf),
        [
            ("not_null", "text"),
            ("unique", "doc_id"),
            ("unique_approx", "doc_id"),
            ("unique_approx", "source"),
        ],
    )


_EA_M = 62 * 4096

SQL_EXPECTATIONS_APPROX = f"""
WITH a AS (SELECT
    cast(count(*) AS bigint) AS n,
    cast(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS bigint) AS v_null,
    cast(sum(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END)
         - count(DISTINCT doc_id) AS bigint) AS v_uniq,
    cast(sum(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS nn_id,
    cast(sum(CASE WHEN source IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS nn_src
  FROM documents),
hid AS (SELECT md5('swarm-lc|' || cast(doc_id AS varchar)) AS h
        FROM documents WHERE doc_id IS NOT NULL),
hsr AS (SELECT md5('swarm-lc|' || source) AS h
        FROM documents WHERE source IS NOT NULL),
bid AS (SELECT cast(coalesce(sum(bit_count(mask)), 0) AS bigint) AS sb FROM
        (SELECT {{b8}} % 4096 AS block,
                bit_or(cast(1 AS bigint) << cast({{b4}} % 62 AS int)) AS mask
         FROM hid GROUP BY 1)),
bsr AS (SELECT cast(coalesce(sum(bit_count(mask)), 0) AS bigint) AS sb FROM
        (SELECT {{b8}} % 4096 AS block,
                bit_or(cast(1 AS bigint) << cast({{b4}} % 62 AS int)) AS mask
         FROM hsr GROUP BY 1)),
eid AS (SELECT CASE WHEN {_EA_M} - sb <= 0 THEN NULL
               ELSE cast(round(-{_EA_M}.0 * ln(({_EA_M} - sb) / {_EA_M}.0)) AS bigint)
               END AS est FROM bid),
esr AS (SELECT CASE WHEN {_EA_M} - sb <= 0 THEN NULL
               ELSE cast(round(-{_EA_M}.0 * ln(({_EA_M} - sb) / {_EA_M}.0)) AS bigint)
               END AS est FROM bsr),
r AS (
  SELECT 'not_null' AS chk, 'text' AS col, a.n, a.v_null AS v FROM a
  UNION ALL SELECT 'unique', 'doc_id', a.n, a.v_uniq FROM a
  UNION ALL SELECT 'unique_approx', 'doc_id', a.n,
      CASE WHEN eid.est IS NULL THEN NULL
           ELSE greatest(0, a.nn_id - eid.est) END FROM a, eid
  UNION ALL SELECT 'unique_approx', 'source', a.n,
      CASE WHEN esr.est IS NULL THEN NULL
           ELSE greatest(0, a.nn_src - esr.est) END FROM a, esr)
SELECT chk AS "check", col AS "column", n AS n_rows,
       cast(v AS bigint) AS n_violations, v = 0 AS passed
FROM r ORDER BY 1, 2
""".format(
    b8=_hexval("h", 1, 8), b4=_hexval("h", 9, 4)
)


def q_sample_shuffle_order(spark, sf):
    """Reproducible global training-shuffle: every doc's 0-based
    position under (md5-hash, id) ordering — a deterministic
    permutation, built with the two-phase ranged rank (no global
    sort). The oracle is the direct single-window definition."""
    from .ops.sampling import global_shuffle_order

    return global_shuffle_order(
        _docs(spark, sf).select("doc_id"), "doc_id"
    ).orderBy("pos")


SQL_SHUFFLE_ORDER = f"""
SELECT doc_id,
       cast(row_number() OVER (
           ORDER BY {_md5_bucket_sql('doc_id', 'swarm-shuffle')}, doc_id) - 1
           AS bigint) AS pos
FROM documents ORDER BY pos
"""


def q_corpus_distinct_sketch(spark, sf):
    """Linear-counting distinct-3-gram estimate vs the exact count —
    the cardinality sketch that sizes vocabs, blooms and dedup plans
    without an exact distinct's key-space shuffle; deterministic
    md5-derived bits make even the ESTIMATE value-oracle-checkable
    (HLL sketches are engine-private). err_ppm pins the accuracy."""
    from .ops.dedup import doc_shingles, linear_count_distinct

    sh = doc_shingles(_docs(spark, sf), n=3)
    sk = linear_count_distinct(sh, "sh", n_blocks=4096)
    exact = sh.agg(F.countDistinct("sh").cast("long").alias("exact_distinct"))
    return sk.crossJoin(F.broadcast(exact)).select(
        "m_bits",
        "set_bits",
        "zero_bits",
        "estimate",
        "exact_distinct",
        F.round(
            F.abs(F.col("estimate") - F.col("exact_distinct"))
            * 1_000_000
            / F.col("exact_distinct")
        )
        .cast("long")
        .alias("err_ppm"),
    )


def q_corpus_sketch_incremental(spark, sf):
    """Incremental sketch maintenance is EXACT: the bit_or merge of two
    waves' bitmaps equals the full-recompute bitmap, so the merged
    estimate is identical — history is never rescanned. Output the
    merged and full estimates plus the per-block bitmap diff count
    (must be 0)."""
    from .ops.dedup import (
        doc_shingles,
        linear_count_bitmap,
        linear_count_estimate,
        merge_count_bitmaps,
    )

    docs = _docs(spark, sf)
    sh = doc_shingles(docs, n=3)
    even = sh.where(F.col("doc_id") % 2 == 0)
    odd = sh.where(F.col("doc_id") % 2 == 1)
    merged_bm = merge_count_bitmaps(
        linear_count_bitmap(even, "sh"), linear_count_bitmap(odd, "sh")
    )
    full_bm = linear_count_bitmap(sh, "sh")
    merged = linear_count_estimate(merged_bm).select(
        F.col("estimate").alias("merged_estimate")
    )
    full = linear_count_estimate(full_bm).select(
        F.col("estimate").alias("full_estimate")
    )
    diff = (
        merged_bm.withColumnRenamed("mask", "ma")
        .join(full_bm.withColumnRenamed("mask", "mb"), "block", "full")
        .where(
            F.coalesce(F.col("ma"), F.lit(-1)) != F.coalesce(F.col("mb"), F.lit(-1))
        )
        .agg(F.count(F.lit(1)).cast("long").alias("blocks_differing"))
    )
    return merged.crossJoin(F.broadcast(full)).crossJoin(F.broadcast(diff))


SQL_SKETCH_INCR = """
WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents),
e AS (SELECT doc_id, unnest(list_transform(range(greatest(len(ws)-2, 0)),
             i -> ws[i+1]||' '||ws[i+2]||' '||ws[i+3])) AS sh FROM w),
s AS (SELECT DISTINCT doc_id, sh FROM e),
p AS (SELECT doc_id,
             {b8} % 4096 AS block,
             (cast(1 AS bigint) << cast({b4} % 62 AS int)) AS mask
      FROM (SELECT doc_id, md5('swarm-lc|' || sh) AS h FROM s)),
me AS (SELECT block, bit_or(mask) AS mask FROM p WHERE doc_id % 2 = 0 GROUP BY 1),
mo AS (SELECT block, bit_or(mask) AS mask FROM p WHERE doc_id % 2 = 1 GROUP BY 1),
mg AS (SELECT block, bit_or(mask) AS mask
       FROM (SELECT * FROM me UNION ALL SELECT * FROM mo) GROUP BY 1),
fu AS (SELECT block, bit_or(mask) AS mask FROM p GROUP BY 1),
est AS (SELECT
  (SELECT cast(round(-253952.0 * ln((253952 - coalesce(sum(bit_count(mask)), 0))
       / 253952.0)) AS bigint) FROM mg) AS merged_estimate,
  (SELECT cast(round(-253952.0 * ln((253952 - coalesce(sum(bit_count(mask)), 0))
       / 253952.0)) AS bigint) FROM fu) AS full_estimate,
  (SELECT cast(count(*) AS bigint)
   FROM mg FULL JOIN fu USING (block)
   WHERE coalesce(mg.mask, -1) <> coalesce(fu.mask, -1)) AS blocks_differing)
SELECT merged_estimate, full_estimate, blocks_differing FROM est
""".format(
    b8=_hexval("h", 1, 8), b4=_hexval("h", 9, 4)
)


_LC_M = 62 * 4096

SQL_DISTINCT_SKETCH = f"""
WITH {_shingle_cte(3)},
d AS (SELECT md5('swarm-lc|' || sh) AS h FROM s),
p AS (SELECT {_hexval('h', 1, 8)} % 4096 AS block,
             (cast(1 AS bigint) << cast({_hexval('h', 9, 4)} % 62 AS int)) AS mask
      FROM d),
b AS (SELECT block, bit_or(mask) AS mask FROM p GROUP BY 1),
sb AS (SELECT cast(coalesce(sum(bit_count(mask)), 0) AS bigint) AS set_bits FROM b),
x AS (SELECT cast(count(DISTINCT sh) AS bigint) AS exact_distinct FROM s),
est AS (SELECT sb.set_bits,
               cast(round(-{_LC_M}.0 * ln(({_LC_M} - sb.set_bits) / {_LC_M}.0))
                    AS bigint) AS estimate
        FROM sb)
SELECT cast({_LC_M} AS bigint) AS m_bits,
       est.set_bits,
       cast({_LC_M} - est.set_bits AS bigint) AS zero_bits,
       est.estimate,
       x.exact_distinct,
       cast(round(abs(est.estimate - x.exact_distinct) * 1000000.0
                  / x.exact_distinct) AS bigint) AS err_ppm
FROM est, x
"""


def q_corpus_cms_freq(spark, sf):
    """Count-min frequency sketch (Cormode & Muthukrishnan 2005),
    gate-checked against exact counts: sketch every token occurrence
    into a 3×512 counter grid, probe the exact top-20 tokens, and
    report (exact, estimate, overcount). The one-sided guarantee —
    estimates never undercount — makes ``overcount >= 0`` a structural
    invariant the value oracle pins cell-exactly (md5-derived integer
    arithmetic reproduces in DuckDB, unlike engine-private sketch
    bytes). Build is one codegen projection + one <= depth·width-row
    shuffle; the probe broadcasts the SKETCH, never the key frame."""
    from .ops.sketch import cms_lookup, cms_sketch
    from .ops.text import tokens_col

    docs = _docs(spark, sf)
    toks = docs.select(F.explode(tokens_col("text")).alias("tok"))
    sk = cms_sketch(toks, "tok", width=512, depth=3)
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("exact"))
        .orderBy(F.col("exact").desc(), "tok")
        .limit(20)
    )
    est = cms_lookup(sk, exact.select("tok"), "tok", width=512, depth=3)
    return (
        exact.join(est, "tok")
        .select(
            "tok",
            "exact",
            "est",
            (F.col("est") - F.col("exact")).alias("overcount"),
        )
        .orderBy(F.col("exact").desc(), "tok")
    )


def _cms_probe_sql(key_expr: str, src: str, width: int, depth: int) -> str:
    """UNION ALL of ``depth`` per-row hash probes — the SQL mirror of
    ops.sketch._probe_structs (row d hashes md5('swarm-cms-d|key'))."""
    return " UNION ALL ".join(
        f"SELECT {key_expr} AS tok, cast({d} AS int) AS row, "
        f"cast({_md5_bucket_sql(key_expr, f'swarm-cms-{d}')} % {width} AS int) AS col "
        f"FROM {src}"
        for d in range(depth)
    )


SQL_CMS_FREQ = f"""
WITH w AS ({_WS}),
t AS (SELECT unnest(ws) AS tok FROM w),
cells AS (SELECT row, col, cast(count(*) AS bigint) AS cnt
          FROM ({_cms_probe_sql('tok', 't', 512, 3)}) GROUP BY 1, 2),
exact AS (SELECT tok, cast(count(*) AS bigint) AS exact FROM t
          GROUP BY 1 ORDER BY exact DESC, tok LIMIT 20),
probe AS ({_cms_probe_sql('tok', 'exact', 512, 3)}),
est AS (SELECT p.tok, cast(min(coalesce(c.cnt, 0)) AS bigint) AS est
        FROM probe p LEFT JOIN cells c USING (row, col) GROUP BY 1)
SELECT e.tok, e.exact, s.est, s.est - e.exact AS overcount
FROM exact e JOIN est s USING (tok)
ORDER BY e.exact DESC, e.tok
"""


def q_dedup_bloom_gate(spark, sf):
    """Split-block Bloom membership pre-filter, gate-checked: build the
    filter over the even-doc_id half's texts, probe EVERY doc, and
    report the confusion counts. ``missed`` must be 0 (no false
    negatives — the contract that lets a wave skip the exact anti-join
    for unflagged docs); ``false_pos`` is the price of the 12-byte-per-
    block sketch, deterministic because every bit is md5-derived."""
    from .ops.dedup import bloom_contains, build_block_bloom

    docs = _docs(spark, sf).select("doc_id", "text")
    members = docs.where(F.col("doc_id") % 2 == 0)
    bloom = build_block_bloom(members, "text", n_blocks=256, k=4)
    probed = bloom_contains(docs, bloom, "text", n_blocks=256, k=4)
    is_m = (F.col("doc_id") % 2 == 0).cast("long")
    mc = F.col("might_contain").cast("long")
    return probed.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum(is_m).cast("long").alias("n_member"),
        F.sum(mc).cast("long").alias("n_flagged"),
        F.sum(is_m * (1 - mc)).cast("long").alias("missed"),
        F.sum((1 - is_m) * mc).cast("long").alias("false_pos"),
    )


def _bloom_mask_sql(k: int = 4) -> str:
    return " | ".join(
        f"(cast(1 AS bigint) << cast({_hexval('h', 9 + 4 * j, 4)} % 62 AS int))"
        for j in range(k)
    )


SQL_BLOOM_GATE = f"""
WITH d AS (SELECT doc_id, md5('swarm-bloom|' || text) AS h FROM documents),
p AS (SELECT doc_id,
             {_hexval('h', 1, 8)} % 256 AS block,
             {_bloom_mask_sql(4)} AS mask
      FROM d),
b AS (SELECT block, bit_or(mask) AS bmask FROM p WHERE doc_id % 2 = 0 GROUP BY 1),
j AS (SELECT p.doc_id,
             coalesce((b.bmask & p.mask) = p.mask, false) AS mc
      FROM p LEFT JOIN b USING (block))
SELECT cast(count(*) AS bigint) AS n_probe,
       cast(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS bigint) AS n_member,
       cast(sum(CASE WHEN mc THEN 1 ELSE 0 END) AS bigint) AS n_flagged,
       cast(sum(CASE WHEN doc_id % 2 = 0 AND NOT mc THEN 1 ELSE 0 END) AS bigint)
           AS missed,
       cast(sum(CASE WHEN doc_id % 2 <> 0 AND mc THEN 1 ELSE 0 END) AS bigint)
           AS false_pos
FROM j
"""


def q_text_quality_gate(spark, sf):
    """Per-language adaptive quality gate: keep docs at/above their
    language's MEDIAN quality (integral permille) — the group-quantile
    curation filter; thresholds adapt per group instead of one global
    cutoff."""
    from .ops.text import filter_by_group_quantile, quality_expr

    docs = _docs(spark, sf).select(
        "doc_id",
        "lang",
        F.round(quality_expr("text") * 1000).cast("long").alias("q_perm"),
    )
    return filter_by_group_quantile(
        docs, "lang", "q_perm", q_permille=500, keep="ge"
    ).select("lang", "doc_id", "q_perm").orderBy("doc_id")


SQL_QUALITY_GATE = """
WITH w AS (SELECT doc_id, lang, regexp_split_to_array(text, ' +') AS ws
           FROM documents),
c AS (SELECT doc_id, lang,
             cast(len(ws) AS bigint) AS n_tokens,
             cast(len(list_distinct(ws)) AS bigint) AS n_distinct,
             cast(len(list_filter(ws, t -> list_contains(['the','a','of','and','to','in'], t)))
                  AS bigint) AS n_stop
      FROM w),
s AS (SELECT doc_id, lang,
             cast(round(round(0.4 * least(n_tokens/100.0, 1.0)
                 + 0.3 * (n_distinct * 1.0 / n_tokens)
                 + 0.3 * least(n_stop * 5.0 / n_tokens, 1.0), 6) * 1000)
                  AS bigint) AS q_perm
      FROM c),
h AS (SELECT lang, q_perm AS v, cast(count(*) AS bigint) AS c FROM s GROUP BY 1, 2),
t AS (SELECT lang, cast(sum(c) AS bigint) AS n FROM h GROUP BY 1),
cu AS (SELECT lang, v, sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum FROM h),
thr AS (SELECT cu.lang, min(cu.v) AS thr
        FROM cu JOIN t USING (lang)
        WHERE cu.cum >= (500 * t.n + 999) // 1000 GROUP BY 1)
SELECT s.lang, s.doc_id, s.q_perm
FROM s JOIN thr USING (lang)
WHERE s.q_perm >= thr.thr ORDER BY s.doc_id
"""


def q_ann_ivf_assign_wave(spark, sf):
    """Incremental IVF maintenance: build the index over the even-id
    half, assign the odd-id WAVE to the frozen centroids (no Lloyd
    re-run, no driver round-trips), and report per-cell base/wave
    loads with the micro-unit wave share — the rebuild trigger."""
    from .ops.ivf import assign_to_centroids, build_ivf, ivf_drift_report

    emb = _emb(spark, sf)
    base = emb.where(F.col("vec_id") % 2 == 0)
    wave = emb.where(F.col("vec_id") % 2 == 1)
    assignments, centroids = build_ivf(base, n_cells=8, iters=3)
    return ivf_drift_report(assignments, assign_to_centroids(wave, centroids))


SQL_ASSIGN_WAVE = _ivf_oracle_sql(
    ibase_sql="""
  SELECT vec_id AS id, cast(embedding AS double[]) AS v,
         list_dot_product(cast(embedding AS double[]),
                          cast(embedding AS double[])) AS vn2
  FROM embeddings WHERE vec_id % 2 = 0""",
    final_select="""
SELECT pcx.cell,
       coalesce(nb.n_base, 0) AS n_base,
       coalesce(nw.n_wave, 0) AS n_wave,
       cast(round(coalesce(nw.n_wave, 0) * 1000000.0
                  / (coalesce(nb.n_base, 0) + coalesce(nw.n_wave, 0)))
            AS bigint) AS wave_share_micro
FROM (SELECT DISTINCT cell FROM pc) pcx
LEFT JOIN (SELECT cell, cast(count(*) AS bigint) AS n_base
           FROM afin GROUP BY 1) nb USING (cell)
LEFT JOIN (SELECT cell, cast(count(*) AS bigint) AS n_wave FROM (
             SELECT id, cell FROM (
               SELECT b.id, c.cell,
                      row_number() OVER (PARTITION BY b.id
                        ORDER BY b.vn2 - 2 * list_dot_product(b.v, c.cv) + c.cn2,
                                 c.cell) AS rn
               FROM (SELECT vec_id AS id, cast(embedding AS double[]) AS v,
                            list_dot_product(cast(embedding AS double[]),
                                             cast(embedding AS double[])) AS vn2
                     FROM embeddings WHERE vec_id % 2 = 1) b
               CROSS JOIN pc c) WHERE rn = 1)
           GROUP BY 1) nw USING (cell)
WHERE coalesce(nb.n_base, 0) + coalesce(nw.n_wave, 0) > 0
ORDER BY pcx.cell
""",
)


def q_similarity_tfidf_pairs(spark, sf):
    """All-pairs TF-IDF cosine >= 0.5 over the inverted index (Bayardo
    et al. 2007 candidate generation, df-cap bounded like the jaccard/
    minhash tiers) — the lexical near-dup detector weighted toward
    RARE shared vocabulary, where raw-shingle jaccard weights all
    overlap equally. Units are 3-gram shingles (the jaccard key
    space): single tokens are degenerate on this corpus as it scales —
    at sf0.1 every token's df outgrows any recall-safe cap, the
    saturation dilemma measured in SCALING.md — while shingle df stays
    O(dup-cluster size) at every sf. Integer milli-nat weights keep
    dot/norms exact; the one float division is IEEE-deterministic, so
    every pair AND score value-oracles."""
    from .ops.allpairs import tfidf_cosine_pairs

    # The gram corpus is NOT materialized: nothing here persists or
    # checkpoints it. The gram text is built by an interpreted
    # higher-order `transform` lambda; tfidf_postings' sizing count()
    # is a job of the builder, but column pruning leaves it a
    # column-less scan and round-robin exchange that never runs the
    # lambda. Inside the pairs job only exchange reuse dedupes its
    # branches. repartition is not a barrier either: it only spreads
    # the one-row-group scan so each evaluation runs at full width
    # (§2.5). Every sample recomputes from parquet.
    par = spark.sparkContext.defaultParallelism
    grams = (
        _docs(spark, sf)
        .repartition(par)
        .select("doc_id", F.split("text", " +").alias("ws"))
        .select(
            "doc_id",
            F.array_join(
                F.expr(
                    "CASE WHEN size(ws) >= 3 THEN transform("
                    "sequence(1, size(ws) - 2),"
                    " i -> concat_ws('_', ws[i-1], ws[i], ws[i+1]))"
                    " ELSE array() END"
                ),
                " ",
            ).alias("text"),
        )
    )
    return tfidf_cosine_pairs(
        grams, threshold_micro=500_000, max_df=_MAX_DF
    ).orderBy("a", "b")


SQL_TFIDF_PAIRS = f"""
WITH w AS ({_WS}),
e AS (SELECT id, tok FROM (
        SELECT doc_id AS id,
               unnest(list_transform(range(greatest(len(ws) - 2, 0)),
                      i -> ws[i+1] || '_' || ws[i+2] || '_' || ws[i+3])) AS tok
        FROM w) WHERE len(tok) > 0),
tf AS (SELECT id, tok, cast(count(*) AS bigint) AS tf FROM e GROUP BY 1, 2),
n AS (SELECT cast(count(*) AS bigint) AS n FROM documents),
dfq AS (SELECT tok, cast(count(*) AS bigint) AS df FROM tf GROUP BY 1),
kept AS (SELECT tok, idf FROM (
           SELECT tok, cast(round(ln(n * 1.0 / df) * 1000) AS bigint) AS idf
           FROM dfq, n WHERE df >= 2 AND df <= {_MAX_DF})
         WHERE idf > 0),
p AS (SELECT id, tok, tf * idf AS wt FROM tf JOIN kept USING (tok)),
norms AS (SELECT id, cast(sum(wt * wt) AS bigint) AS n2 FROM p GROUP BY 1),
prs AS (SELECT pa.id AS a, pb.id AS b, cast(sum(pa.wt * pb.wt) AS bigint) AS dot
        FROM p pa JOIN p pb USING (tok) WHERE pa.id < pb.id GROUP BY 1, 2),
sc AS (SELECT a, b, dot,
              cast(round(dot * 1000000.0 / (sqrt(na.n2) * sqrt(nb.n2)))
                   AS bigint) AS cos_micro
       FROM prs JOIN norms na ON na.id = prs.a JOIN norms nb ON nb.id = prs.b)
SELECT a, b, dot, cos_micro FROM sc WHERE cos_micro >= 500000 ORDER BY a, b
"""


def q_layout_zorder(spark, sf):
    """Z-order (Morton) layout report over events bucketized to
    (user_id, hour-of-day): cut the interleaved key space into aligned
    buckets and report each bucket's row count and x/y min/max/span.
    The structural locality claim — every bucket is one 16×16 tile, so
    EVERY span < 16 on BOTH dimensions — is what makes file-level
    min/max stats prunable for either predicate; a single-column sort
    bounds only its own column. Pure codegen bit arithmetic, exact in
    SQL."""
    from .ops.layout import zorder_bucket_stats
    from .sources.tables import load_table

    ev = load_table(spark, sf, "events").select(
        (F.col("user_id") % 256).cast("long").alias("xb"),
        F.hour("ts").cast("long").alias("yb"),
    )
    return zorder_bucket_stats(ev, "xb", "yb", bits=8, bucket_bits=4).orderBy(
        "zbucket"
    )


def _zorder_sql_terms(xe: str, ye: str, bits: int) -> str:
    terms = [f"(({xe} // {1 << i}) % 2) * {1 << (2 * i)}" for i in range(bits)] + [
        f"(({ye} // {1 << i}) % 2) * {1 << (2 * i + 1)}" for i in range(bits)
    ]
    return " + ".join(terms)


SQL_LAYOUT_ZORDER = f"""
WITH b AS (SELECT cast(user_id % 256 AS bigint) AS xb,
                  cast(date_part('hour', ts) AS bigint) AS yb FROM events),
z AS (SELECT xb, yb,
             cast({_zorder_sql_terms('xb', 'yb', 8)} AS bigint) AS zkey FROM b),
g AS (SELECT cast(zkey // 256 AS bigint) AS zbucket,
             cast(count(*) AS bigint) AS n,
             min(xb) AS x_min, max(xb) AS x_max,
             min(yb) AS y_min, max(yb) AS y_max
      FROM z GROUP BY 1)
SELECT zbucket, n, x_min, x_max, y_min, y_max,
       x_max - x_min AS x_span, y_max - y_min AS y_span
FROM g ORDER BY zbucket
"""


def q_sample_weighted(spark, sf):
    """Deterministic weighted Bernoulli sampling (inclusion probability
    proportional to doc length), summarized per language: longer docs
    are kept proportionally more often, the whole kept set a pure
    function of the records. The per-lang (kept, kept_w) pins every
    membership decision — one flipped row changes the sums. Uses the
    flag form so kept-vs-total aggregates come from ONE corpus pass
    (conditional sums), not a filter + join-back re-scan."""
    from .ops.sampling import weighted_keep_flag

    flagged = weighted_keep_flag(_docs(spark, sf), "n_chars", "doc_id", n_target=100)
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("w_sum"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("kept"),
            F.coalesce(F.sum(F.when(F.col("keep"), F.col("n_chars"))), F.lit(0))
            .cast("long")
            .alias("kept_w"),
        )
        .orderBy("lang")
    )


_WT_SCALE = float(100 * (1 << 32))  # n_target=100 at the 2^32 hash space

SQL_SAMPLE_WEIGHTED = f"""
WITH t AS (SELECT cast(sum(n_chars) AS bigint) AS wt FROM documents),
f AS (SELECT lang, n_chars,
             {_md5_bucket_sql('doc_id', 'swarm-wt')}
                 < floor(n_chars * {_WT_SCALE!r} / wt) AS keep
      FROM documents, t)
SELECT lang, cast(count(*) AS bigint) AS n_docs,
       cast(sum(n_chars) AS bigint) AS w_sum,
       cast(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS bigint) AS kept,
       cast(coalesce(sum(CASE WHEN keep THEN n_chars END), 0) AS bigint) AS kept_w
FROM f GROUP BY lang ORDER BY lang
"""


def q_sample_temperature(spark, sf):
    """Temperature-flattened (alpha = 1/2) mixture sample over
    languages: quotas proportional to floor(sqrt(n_lang)) — rare
    languages upsampled relative to their share, the head damped — and
    exactly quota rows kept per language in deterministic hash order.
    Integer-exact end to end (IEEE sqrt is correctly rounded), so the
    full kept set incl. ranks value-oracles."""
    from .ops.sampling import sample_temperature

    docs = _docs(spark, sf)
    return (
        sample_temperature(docs, "lang", "doc_id", budget=120)
        .select("lang", "doc_id", "rk")
        .orderBy("lang", "rk")
    )


SQL_SAMPLE_TEMPERATURE = f"""
WITH c AS (SELECT lang, cast(count(*) AS bigint) AS n FROM documents GROUP BY 1),
s AS (SELECT lang, cast(floor(sqrt(n)) AS bigint) AS sc FROM c),
t AS (SELECT cast(sum(sc) AS bigint) AS st FROM s),
q AS (SELECT lang, cast((120 * sc) // st AS bigint) AS quota FROM s, t),
r AS (SELECT lang, doc_id,
             cast(row_number() OVER (PARTITION BY lang
                  ORDER BY {_md5_bucket_sql('doc_id', 'swarm-temp')}, doc_id)
                  AS bigint) AS rk
      FROM documents)
SELECT r.lang, r.doc_id, r.rk FROM r JOIN q USING (lang)
WHERE q.quota >= 1 AND r.rk <= q.quota ORDER BY r.lang, r.rk
"""


def q_corpus_hll_distinct(spark, sf):
    """HyperLogLog distinct-3-gram estimate (Flajolet et al. 2007) vs
    the exact count, with the merge contract pinned in the same row:
    unlike engine-private HLLs (approx_count_distinct), these registers
    are md5-derived integer arithmetic — rho is bit-length arithmetic
    and the harmonic sum stays an exact integer — so the ESTIMATE
    itself value-oracles in DuckDB. ``regs_differing`` must be 0: the
    max-monoid fold of the even/odd doc waves equals the full-corpus
    register file exactly (the append-only-ledger contract).
    Complements ``corpus_distinct_sketch``: linear counting is exact-ish
    at small cardinalities but saturates; HLL's error is a flat
    ~1.04/sqrt(m) at ANY cardinality — the 100-TB default."""
    from .ops.dedup import doc_shingles
    from .ops.sketch import hll_estimate, hll_merge, hll_registers

    sh = doc_shingles(_docs(spark, sf), n=3)
    full = hll_registers(sh, "sh")
    merged = hll_merge(
        hll_registers(sh.where(F.col("doc_id") % 2 == 0), "sh"),
        hll_registers(sh.where(F.col("doc_id") % 2 == 1), "sh"),
    )
    est = hll_estimate(full)
    exact = sh.agg(F.countDistinct("sh").cast("long").alias("exact_distinct"))
    diff = (
        full.select("bucket", F.col("rho").alias("ra"))
        .join(merged.select("bucket", F.col("rho").alias("rb")), "bucket", "full")
        .where(F.coalesce(F.col("ra"), F.lit(-1)) != F.coalesce(F.col("rb"), F.lit(-1)))
        .agg(F.count(F.lit(1)).cast("long").alias("regs_differing"))
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(diff))
        .select(
            "m_regs",
            "nonzero_regs",
            "sum_scaled",
            "estimate",
            "exact_distinct",
            F.round(
                F.abs(F.col("estimate") - F.col("exact_distinct"))
                * 1_000_000
                / F.col("exact_distinct")
            )
            .cast("long")
            .alias("err_ppm"),
            "regs_differing",
        )
    )


_HLL_M = 4096
_HLL_A = 0.7213 / (1 + 1.079 / _HLL_M) * _HLL_M * _HLL_M * float(1 << 49)

SQL_HLL_DISTINCT = f"""
WITH {_shingle_cte(3)},
rr AS (SELECT doc_id,
              {_hexval('h', 1, 3)} AS bucket,
              CASE WHEN {_hexval('h', 4, 12)} = 0 THEN 49
                   ELSE 49 - length(bin({_hexval('h', 4, 12)})) END AS rho
       FROM (SELECT doc_id, md5('swarm-hll|' || sh) AS h FROM s)),
regs AS (SELECT bucket, max(rho) AS rho FROM rr GROUP BY 1),
rm AS (SELECT bucket, max(rho) AS rho FROM (
         SELECT bucket, max(rho) AS rho FROM rr WHERE doc_id % 2 = 0 GROUP BY 1
         UNION ALL
         SELECT bucket, max(rho) AS rho FROM rr WHERE doc_id % 2 = 1 GROUP BY 1)
       GROUP BY 1),
agg AS (SELECT cast(count(*) AS bigint) AS nonzero_regs,
               cast(coalesce(sum(cast(1 AS bigint) << cast(49 - rho AS int)), 0)
                    AS bigint) AS present_scaled
        FROM regs),
est AS (SELECT cast({_HLL_M} AS bigint) AS m_regs,
               nonzero_regs,
               cast(present_scaled
                    + ({_HLL_M} - nonzero_regs) * (cast(1 AS bigint) << 49)
                    AS bigint) AS sum_scaled
        FROM agg),
fin AS (SELECT m_regs, nonzero_regs, sum_scaled,
               CASE WHEN {_HLL_A!r} / sum_scaled <= {2.5 * _HLL_M!r}
                         AND nonzero_regs < {_HLL_M}
                    THEN cast(round({float(_HLL_M)!r}
                              * ln({float(_HLL_M)!r} / ({_HLL_M} - nonzero_regs)))
                              AS bigint)
                    ELSE cast(round({_HLL_A!r} / sum_scaled) AS bigint)
               END AS estimate
        FROM est),
x AS (SELECT cast(count(DISTINCT sh) AS bigint) AS exact_distinct FROM s),
dd AS (SELECT cast(count(*) AS bigint) AS regs_differing
       FROM regs FULL JOIN rm USING (bucket)
       WHERE coalesce(regs.rho, -1) <> coalesce(rm.rho, -1))
SELECT fin.m_regs, fin.nonzero_regs, fin.sum_scaled, fin.estimate,
       x.exact_distinct,
       cast(round(abs(fin.estimate - x.exact_distinct) * 1000000.0
                  / x.exact_distinct) AS bigint) AS err_ppm,
       dd.regs_differing
FROM fin, x, dd
"""


def _bpe_rounds_cte(n_merges: int) -> str:
    """The shared unrolled-BPE CTE chain: word histogram -> char
    segmentation -> ``n_merges`` (pair-count, argmax, merge-pass)
    rounds. Each round's best pair is a 1-row CTE whose columns feed
    the next round's list_reduce lambda — fully data-driven SQL, no
    Python-side training leaks into the oracle. The merge pass is the
    same left-to-right fold as ops/bpe.py's bpe_merge_pass, encoded on
    a chr(1)-delimited accumulator string (elements never contain the
    delimiter)."""
    # every s{r} is referenced twice (by p{r+1} and s{r+1}): the CTEs
    # MUST be materialized or DuckDB inlines the chain exponentially
    # (2^n_merges scans of the base table)
    rounds = []
    for r in range(1, n_merges + 1):
        rounds.append(
            f""",
p{r} AS MATERIALIZED (SELECT a, b, sum(cnt) AS n FROM (
       SELECT cnt, seg[i+1] AS a, seg[i+2] AS b
       FROM (SELECT cnt, seg, unnest(range(len(seg) - 1)) AS i FROM s{r - 1})
     ) GROUP BY 1, 2),
b{r} AS MATERIALIZED (SELECT a, b FROM p{r} ORDER BY n DESC, a, b LIMIT 1),
s{r} AS MATERIALIZED (SELECT word, cnt,
       string_split(list_reduce(list_prepend('', seg), (acc, x) ->
         CASE WHEN ends_with(acc, chr(1) || b{r}.a) AND x = b{r}.b
              THEN left(acc, length(acc) - length(b{r}.a) - 1)
                   || chr(1) || b{r}.a || b{r}.b
              ELSE acc || chr(1) || x END), chr(1))[2:] AS seg
     FROM s{r - 1} CROSS JOIN b{r})"""
        )
    return f"""w AS MATERIALIZED ({_WS}),
wx AS MATERIALIZED (SELECT doc_id, word, pos FROM (
        SELECT doc_id, unnest(ws) AS word, unnest(range(len(ws))) AS pos FROM w)
       WHERE length(word) > 0),
wh AS MATERIALIZED (SELECT word, cast(count(*) AS bigint) AS cnt FROM wx GROUP BY 1),
s0 AS MATERIALIZED (SELECT word, cnt,
              list_transform(range(length(word)), i -> word[i+1:i+1]) AS seg
       FROM wh){''.join(rounds)}"""


_BPE_MERGES = 24


def q_text_bpe_tokens(spark, sf):
    """Deterministic BPE subword tokenizer, trained AND applied on the
    corpus (Sennrich, Haddow & Birch 2016): 24 most-frequent-pair merge
    rounds over the word histogram (ties lexicographic — the
    determinism contract), then every document rendered as its full
    subword segmentation ('sub sub|sub' — words by '|', subwords by
    spaces) plus whitespace/subword counts. The oracle re-trains the
    SAME 24 rounds in DuckDB (each round one pair-count CTE + a 1-row
    argmax CTE feeding a list_reduce merge pass), so a green row
    value-pins training order, merge application, and per-doc
    reassembly end to end. Upgrades the token-budget tier from
    whitespace proxies to real subword units (``pack_chunks_bpe``)."""
    from .ops.bpe import bpe_segment_text, bpe_train, bpe_word_histogram

    docs = _docs(spark, sf)
    merges, seg = bpe_train(bpe_word_histogram(docs), n_merges=_BPE_MERGES)
    return bpe_segment_text(docs, seg).orderBy("doc_id")


SQL_BPE_TOKENS = f"""
WITH {_bpe_rounds_cte(_BPE_MERGES)}
SELECT wx.doc_id,
       cast(count(*) AS bigint) AS n_ws,
       cast(sum(len(e.seg)) AS bigint) AS n_bpe,
       string_agg(array_to_string(e.seg, ' '), '|' ORDER BY wx.pos) AS seg_text
FROM wx JOIN s{_BPE_MERGES} e USING (word)
GROUP BY 1 ORDER BY doc_id
"""


def q_pack_chunks_bpe(spark, sf):
    """Concat-and-chunk packing budgeted in TRAINED BPE subword units
    instead of whitespace tokens — the ``count_col`` hookup a real
    pretraining pipeline needs (window capacity is a tokenizer-unit
    contract, not a whitespace one). Same two-phase distributed prefix
    sum as ``pack_chunks``; the per-doc lengths flow from the
    vocab-sized trained segmentation map, never a per-row re-encode."""
    from .ops.bpe import bpe_token_counts, bpe_train, bpe_word_histogram
    from .ops.packing import pack_concat_chunks

    docs = _docs(spark, sf)
    _, seg = bpe_train(bpe_word_histogram(docs), n_merges=_BPE_MERGES)
    counts = bpe_token_counts(docs, seg_map=seg)
    return pack_concat_chunks(
        docs.join(counts.select("doc_id", "n_bpe"), "doc_id"),
        capacity=512,
        count_col="n_bpe",
    ).orderBy("doc_id", "window_id")


SQL_PACK_CHUNKS_BPE = f"""
WITH {_bpe_rounds_cte(_BPE_MERGES)},
c AS (SELECT wx.doc_id, cast(sum(len(e.seg)) AS bigint) AS n_tok
      FROM wx JOIN s{_BPE_MERGES} e USING (word) GROUP BY 1),
s AS (SELECT doc_id, n_tok,
             cast(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  AS bigint) AS e
      FROM c),
x AS (SELECT doc_id, n_tok, e - n_tok AS st, e,
             unnest(range((e - n_tok) // 512, (e - 1) // 512 + 1)) AS window_id
      FROM s)
SELECT doc_id, n_tok, window_id,
       cast(greatest(st, window_id * 512) - window_id * 512 AS bigint) AS off,
       cast(least(e, (window_id + 1) * 512)
            - greatest(st, window_id * 512) AS bigint) AS take
FROM x ORDER BY doc_id, window_id
"""


def q_text_lm_perplexity(spark, sf):
    """CCNet-shape corpus quality signal (Wenzek et al. 2020): per-doc
    cross-entropy under a Stupid-Backoff bigram LM (Brants et al.
    2007) trained on the trusted lang=='en' slice — counts-only
    training (two map-side-combined aggregations), scoring is the
    token stream against three vocab-sized equi-joins, all log-space
    arithmetic in integer micro-nats rounded once per token."""
    from .ops.lm import lm_perplexity, lm_train

    docs = _docs(spark, sf)
    model = lm_train(docs.where(F.col("lang") == "en"))
    return lm_perplexity(docs, model).orderBy("doc_id")


def q_text_lm_merge(spark, sf):
    """Incremental LM maintenance: the count tables are a SUM monoid,
    so two independently trained waves folded with ``lm_merge`` must
    score documents EXACTLY like one model trained on the union corpus
    — the oracle is the full-train SQL, pinning wave-fold == retrain
    end-to-end (the additive contract shared with the BM25 index and
    every sketch in the repo)."""
    from .ops.lm import lm_merge, lm_perplexity, lm_train

    docs = _docs(spark, sf)
    en = docs.where(F.col("lang") == "en")
    merged = lm_merge(
        lm_train(en.where(F.col("doc_id") % 2 == 0)),
        lm_train(en.where(F.col("doc_id") % 2 == 1)),
    )
    return lm_perplexity(docs, merged).orderBy("doc_id")


def q_text_lm_merge_by(spark, sf):
    """Incremental GROUPED LM maintenance (the CCNet production
    shape): two independently trained per-language count frames
    (``lm_train_by`` — every language in one grouped pass per wave)
    folded with ``lm_merge_by`` must equal the grouped counts of the
    union corpus, for every (grp, ctx, tok) at once — the SUM-monoid
    contract ``text_lm_merge`` pins for one model, extended to the
    whole per-language family. The folded frame is exactly what
    ``quality lm-train --by`` persists and ``curate --ccnet
    --ccnet-lm-model`` probes (CLI-identity-pinned in
    tests/test_cli.py)."""
    from .ops.lm import lm_merge_by, lm_train_by

    docs = _docs(spark, sf)
    merged = lm_merge_by(
        lm_train_by(docs.where(F.col("doc_id") % 2 == 0), group_col="lang"),
        lm_train_by(docs.where(F.col("doc_id") % 2 == 1), group_col="lang"),
    )
    return merged.select("grp", "ctx", "tok", "cnt").orderBy(
        "grp", F.col("ctx").asc_nulls_first(), "tok"
    )


SQL_LM_MERGE_BY = """
WITH w AS (SELECT lang AS grp,
                  list_filter(regexp_split_to_array(text, ' +'),
                              t -> length(t) > 0) AS ws
           FROM documents),
uni AS (SELECT grp, cast(NULL AS varchar) AS ctx, tok,
               cast(count(*) AS bigint) AS cnt
        FROM (SELECT grp, unnest(ws) AS tok FROM w) GROUP BY 1, 2, 3),
bi AS (SELECT grp, ws[i + 1] AS ctx, ws[i + 2] AS tok,
              cast(count(*) AS bigint) AS cnt
       FROM (SELECT grp, ws, unnest(range(len(ws) - 1)) AS i FROM w)
       GROUP BY 1, 2, 3)
SELECT grp, ctx, tok, cnt FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
ORDER BY grp, ctx ASC NULLS FIRST, tok
"""


def q_text_lm_gate(spark, sf):
    """The CCNet head cut as a curation gate: keep documents whose
    average per-token cost under the reference LM is at most the
    corpus mean — an adaptive threshold (one metadata-sized
    aggregation over the scored frame), so the gate is meaningful at
    every scale factor without a hand-tuned constant."""
    from .ops.lm import lm_gate, lm_perplexity, lm_train

    docs = _docs(spark, sf)
    model = lm_train(docs.where(F.col("lang") == "en"))
    thr = int(
        lm_perplexity(docs, model)
        .agg(F.round(F.avg("avg_micro")).cast("long").alias("t"))
        .head()["t"]
    )
    return (
        lm_gate(docs, model, thr)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


# the LM training/scoring CTE chain, shared by the LM oracles: counts
# from the training slice, T/V totals, per-position contexts, and the
# three-branch Stupid-Backoff cost (association mirrors the Spark
# expressions exactly — see ops/lm.py)
def _lm_scored_cte(
    train_where: str = "lang = 'en'", score_where: str = "TRUE"
) -> str:
    return f"""
w AS (SELECT doc_id, lang,
             list_filter(regexp_split_to_array(text, ' +'),
                         t -> length(t) > 0) AS ws
      FROM documents),
uni AS (SELECT tok, cast(count(*) AS bigint) AS cnt
        FROM (SELECT unnest(ws) AS tok FROM w WHERE {train_where})
        GROUP BY tok),
pairsrc AS (SELECT ws, unnest(range(len(ws) - 1)) AS i
            FROM w WHERE {train_where}),
bi AS (SELECT ws[i + 1] AS ctx, ws[i + 2] AS tok,
              cast(count(*) AS bigint) AS cnt
       FROM pairsrc GROUP BY 1, 2),
tv AS (SELECT cast(sum(cnt) AS bigint) AS t,
              cast(count(*) AS bigint) AS v
       FROM uni),
ent AS (SELECT doc_id, ws, unnest(ws) AS tok,
               unnest(range(len(ws))) AS i
        FROM w WHERE {score_where}),
ent2 AS (SELECT doc_id, tok,
                CASE WHEN i = 0 THEN NULL ELSE ws[i] END AS ctx
         FROM ent),
scored AS (
  SELECT e.doc_id,
         cast(CASE
           WHEN e.ctx IS NULL THEN
             round(-1000000 * ln((coalesce(u.cnt, 0) + 1)
                                 / (tv.t + tv.v + 1)))
           WHEN b.cnt IS NOT NULL THEN
             round(-1000000 * ln(b.cnt / uc.cnt))
           ELSE
             round(-1000000 * ln(0.4 * ((coalesce(u.cnt, 0) + 1)
                                        / (tv.t + tv.v + 1))))
         END AS bigint) AS c
  FROM ent2 e
  CROSS JOIN tv
  LEFT JOIN bi b ON b.ctx = e.ctx AND b.tok = e.tok
  LEFT JOIN uni u ON u.tok = e.tok
  LEFT JOIN uni uc ON uc.tok = e.ctx),
ppl AS (SELECT doc_id, cast(count(*) AS bigint) AS n_toks,
               cast(sum(c) AS bigint) AS cost_micro,
               cast(round(sum(c) / count(*)) AS bigint) AS avg_micro
        FROM scored GROUP BY doc_id)
"""


_LM_SCORED_CTE = _lm_scored_cte()

SQL_LM_PPL = f"""
WITH {_LM_SCORED_CTE}
SELECT doc_id, n_toks, cost_micro, avg_micro FROM ppl ORDER BY doc_id
"""

SQL_LM_GATE = f"""
WITH {_LM_SCORED_CTE},
thr AS (SELECT cast(round(avg(avg_micro)) AS bigint) AS t FROM ppl)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN ppl USING (doc_id) CROSS JOIN thr
WHERE ppl.avg_micro <= thr.t
ORDER BY d.doc_id
"""

def q_text_lm_buckets(spark, sf):
    """CCNet head/middle/tail perplexity terciles per language
    (Wenzek et al. 2020 §4.3): the bigram reference LM trained on the
    en slice scores every doc, and each language buckets its docs by
    its OWN nearest-rank terciles of avg micro-nat cost — head is the
    keep-outright slice, tail the usual discard."""
    from .ops.lm import lm_buckets, lm_train

    docs = _docs(spark, sf)
    model = lm_train(docs.where(F.col("lang") == "en"))
    return lm_buckets(docs, model).orderBy("doc_id")


SQL_LM_BUCKETS = f"""
WITH {_LM_SCORED_CTE},
lp AS (SELECT d.doc_id, d.lang, p.n_toks, p.avg_micro
       FROM documents d JOIN ppl p USING (doc_id)),
h AS (SELECT lang, avg_micro AS v, cast(count(*) AS bigint) AS c
      FROM lp GROUP BY 1, 2),
t AS (SELECT lang, cast(sum(c) AS bigint) AS n FROM h GROUP BY 1),
cu AS (SELECT lang, v, sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum
       FROM h),
t1 AS (SELECT cu.lang, min(v) AS thr FROM cu JOIN t USING (lang)
       WHERE cum >= (333 * n + 999) // 1000 GROUP BY 1),
t2 AS (SELECT cu.lang, min(v) AS thr FROM cu JOIN t USING (lang)
       WHERE cum >= (667 * n + 999) // 1000 GROUP BY 1)
SELECT lp.doc_id, lp.lang, lp.n_toks, lp.avg_micro,
       CASE WHEN lp.avg_micro <= t1.thr THEN 'head'
            WHEN lp.avg_micro <= t2.thr THEN 'middle'
            ELSE 'tail' END AS bucket
FROM lp JOIN t1 USING (lang) JOIN t2 USING (lang)
ORDER BY lp.doc_id
"""


_LM_EVAL_THRESHOLDS = (
    5_000_000, 6_000_000, 7_000_000, 8_000_000, 9_000_000, 10_000_000
)


def q_text_lm_eval(spark, sf):
    """Operating curve for the perplexity gate: train the reference LM
    on the even-doc_id en slice, sweep avg-cost caps on the odd-doc_id
    holdout against the lang=='en' ground truth — exact integer
    confusion counts + micro-unit precision/recall/accuracy/F1 per
    threshold, so `curate --lm-max-avg` comes from a measured point
    (the NB gate's `text_nb_eval` contract, for the LM tier)."""
    from .ops.lm import lm_eval, lm_train

    docs = _docs(spark, sf)
    model = lm_train(
        docs.where((F.col("lang") == "en") & (F.col("doc_id") % 2 == 0))
    )
    return lm_eval(
        docs.where(F.col("doc_id") % 2 == 1),
        model,
        F.col("lang") == "en",
        thresholds=list(_LM_EVAL_THRESHOLDS),
    )


def _lm_eval_conf_sql(thresholds) -> str:
    """The eval confusion CTE over a ``ppl`` + ``labs`` pair: labs
    drives a LEFT join so zero-token (unscored) docs are counted as
    predicted-bad — the lm_gate deployment semantics (`ops/lm.py`)."""
    return f"""
th AS (SELECT unnest([{", ".join(str(t) for t in thresholds)}])
              AS threshold_micro),
conf AS (SELECT th.threshold_micro,
                cast(sum(CASE WHEN p.avg_micro IS NOT NULL
                              AND p.avg_micro <= th.threshold_micro
                              AND l.y THEN 1 ELSE 0 END) AS bigint) AS tp,
                cast(sum(CASE WHEN p.avg_micro IS NOT NULL
                              AND p.avg_micro <= th.threshold_micro
                              AND NOT l.y THEN 1 ELSE 0 END) AS bigint) AS fp,
                cast(sum(CASE WHEN (p.avg_micro IS NULL
                              OR p.avg_micro > th.threshold_micro)
                              AND l.y THEN 1 ELSE 0 END) AS bigint) AS fn,
                cast(sum(CASE WHEN (p.avg_micro IS NULL
                              OR p.avg_micro > th.threshold_micro)
                              AND NOT l.y THEN 1 ELSE 0 END) AS bigint) AS tn
         FROM labs l LEFT JOIN ppl p USING (doc_id) CROSS JOIN th
         GROUP BY 1)"""


SQL_LM_EVAL = f"""
WITH {_lm_scored_cte("lang = 'en' AND doc_id % 2 = 0", "doc_id % 2 = 1")},
labs AS (SELECT doc_id, lang = 'en' AS y FROM documents
         WHERE doc_id % 2 = 1),
{_lm_eval_conf_sql(_LM_EVAL_THRESHOLDS)}
SELECT cast(threshold_micro AS bigint) AS threshold_micro, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0
            THEN cast(round(1000000.0 * tp / (tp + fp)) AS bigint) END
         AS precision_micro,
       CASE WHEN tp + fn > 0
            THEN cast(round(1000000.0 * tp / (tp + fn)) AS bigint) END
         AS recall_micro,
       CASE WHEN tp + fp + fn + tn > 0
            THEN cast(round(1000000.0 * (tp + tn) / (tp + fp + fn + tn))
                      AS bigint) END
         AS accuracy_micro,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN cast(round(1000000.0 * 2 * tp / (2 * tp + fp + fn))
                      AS bigint) END
         AS f1_micro
FROM conf ORDER BY threshold_micro
"""

_LM_EVAL_TAIL = SQL_LM_EVAL[SQL_LM_EVAL.index("SELECT cast(threshold_micro"):]


def q_text_lm_trigram(spark, sf):
    """Order-3 Stupid-Backoff perplexity — CCNet's published operating
    point is a 5-gram KenLM and the bigram filter is its weakest
    approximation; order n is the SAME (ctx, tok, cnt) SUM-monoid
    model with ctx = the joined (n−1)-gram, so train stays one corpus
    scan and scoring becomes 2n−1 vocab-sized equi-joins. The backoff
    chain multiplies α per step down (trigram → bigram → smoothed
    unigram), with α-powers injected as exact shared double literals
    in BOTH engines (`ops/lm.py::_alpha_pow`)."""
    from .ops.lm import lm_perplexity, lm_train

    docs = _docs(spark, sf)
    model = lm_train(docs.where(F.col("lang") == "en"), order=3)
    return lm_perplexity(docs, model, order=3).orderBy("doc_id")


def _lm3_scored_cte(
    train_where: str = "lang = 'en'", score_where: str = "TRUE"
) -> str:
    """DuckDB re-derivation of the ORDER-3 train+score chain: uni/bi/
    tri count tables, per-position (prev, trigram-ctx, trigram-den)
    keys, and the three-branch backoff cost. α-power literals are the
    repr of the SAME Python doubles the Spark side injects
    (`ops/lm.py::_alpha_pow`), so the product arithmetic is
    bit-identical."""
    a1, a2 = repr(0.4**1), repr(0.4**2)
    return f"""
w AS (SELECT doc_id, lang,
             list_filter(regexp_split_to_array(text, ' +'),
                         t -> length(t) > 0) AS ws
      FROM documents),
uni AS (SELECT tok, cast(count(*) AS bigint) AS cnt
        FROM (SELECT unnest(ws) AS tok FROM w WHERE {train_where})
        GROUP BY tok),
pairsrc AS (SELECT ws, unnest(range(len(ws) - 1)) AS i
            FROM w WHERE {train_where}),
bi AS (SELECT ws[i + 1] AS ctx, ws[i + 2] AS tok,
              cast(count(*) AS bigint) AS cnt
       FROM pairsrc GROUP BY 1, 2),
trisrc AS (SELECT ws, unnest(range(len(ws) - 2)) AS i
           FROM w WHERE {train_where}),
tri AS (SELECT ws[i + 1] || ' ' || ws[i + 2] AS ctx, ws[i + 3] AS tok,
               cast(count(*) AS bigint) AS cnt
        FROM trisrc GROUP BY 1, 2),
tv AS (SELECT cast(sum(cnt) AS bigint) AS t,
              cast(count(*) AS bigint) AS v
       FROM uni),
ent AS (SELECT doc_id, ws, unnest(ws) AS tok,
               unnest(range(len(ws))) AS i
        FROM w WHERE {score_where}),
ent2 AS (SELECT doc_id, tok, i,
                CASE WHEN i >= 1 THEN ws[i] END AS prev,
                CASE WHEN i >= 2 THEN ws[i - 1] || ' ' || ws[i] END AS nctx3,
                CASE WHEN i >= 2 THEN ws[i - 1] END AS dctx3
         FROM ent),
scored AS (
  SELECT e.doc_id,
         cast(CASE
           WHEN t3.cnt IS NOT NULL AND d3.cnt IS NOT NULL THEN
             round(-1000000 * ln(t3.cnt / d3.cnt))
           WHEN b.cnt IS NOT NULL AND uc.cnt IS NOT NULL THEN
             round(-1000000 * ln(
               (CASE WHEN least(3, e.i + 1) - 2 = 0 THEN 1.0 ELSE {a1} END)
               * (b.cnt / uc.cnt)))
           ELSE
             round(-1000000 * ln(
               (CASE least(3, e.i + 1) - 1
                     WHEN 0 THEN 1.0 WHEN 1 THEN {a1} ELSE {a2} END)
               * ((coalesce(u.cnt, 0) + 1) / (tv.t + tv.v + 1))))
         END AS bigint) AS c
  FROM ent2 e
  CROSS JOIN tv
  LEFT JOIN tri t3 ON t3.ctx = e.nctx3 AND t3.tok = e.tok
  LEFT JOIN bi d3 ON d3.ctx = e.dctx3 AND d3.tok = e.prev
  LEFT JOIN bi b ON b.ctx = e.prev AND b.tok = e.tok
  LEFT JOIN uni u ON u.tok = e.tok
  LEFT JOIN uni uc ON uc.tok = e.prev),
ppl AS (SELECT doc_id, cast(count(*) AS bigint) AS n_toks,
               cast(sum(c) AS bigint) AS cost_micro,
               cast(round(sum(c) / count(*)) AS bigint) AS avg_micro
        FROM scored GROUP BY doc_id)
"""


SQL_LM_TRIGRAM = f"""
WITH {_lm3_scored_cte()}
SELECT doc_id, n_toks, cost_micro, avg_micro FROM ppl ORDER BY doc_id
"""


def q_text_lm_eval3(spark, sf):
    """The lm_eval operating curve over the ORDER-3 model (same holdout
    split and threshold sweep as `text_lm_eval`): the trigram chain is
    strictly more selective on in-domain text, so the measured curve is
    the one a `curate --lm-order 3` cap should come from."""
    from .ops.lm import lm_eval, lm_train

    docs = _docs(spark, sf)
    model = lm_train(
        docs.where((F.col("lang") == "en") & (F.col("doc_id") % 2 == 0)),
        order=3,
    )
    return lm_eval(
        docs.where(F.col("doc_id") % 2 == 1),
        model,
        F.col("lang") == "en",
        thresholds=list(_LM_EVAL_THRESHOLDS),
        order=3,
    )


SQL_LM_EVAL3 = f"""
WITH {_lm3_scored_cte("lang = 'en' AND doc_id % 2 = 0", "doc_id % 2 = 1")},
labs AS (SELECT doc_id, lang = 'en' AS y FROM documents
         WHERE doc_id % 2 = 1),
{_lm_eval_conf_sql(_LM_EVAL_THRESHOLDS)}
{_LM_EVAL_TAIL}"""


def q_text_gopher_rules(spark, sf):
    """Gopher rule gate (Rae et al. 2021 §A1.1): per-doc integer-exact
    rule flags + the combined keep decision — the published recipe's
    word-count band, mean-word-length band, symbol ratio, bullet /
    ellipsis line shares, alphabetic-word share, and stop-word hits,
    all in ONE zero-shuffle projection over the corpus scan.
    ``min_words=30`` sits inside this corpus's 10–99-token spread so
    the word-count rule actually splits the population, and the
    stop-word list is the corpus-language swap the operator exists
    for (the paper's English list hits one word of this vocabulary)."""
    from .ops.curation import gopher_rules

    return gopher_rules(
        _docs(spark, sf), min_words=30,
        stopwords=("the", "a", "table", "value"),
    ).orderBy("doc_id")


SQL_GOPHER_RULES = """
WITH w AS (SELECT doc_id, text,
                  list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'),
                              t -> t != '') AS ws
           FROM documents),
c AS (SELECT doc_id,
             cast(len(ws) AS bigint) AS n_words,
             cast(coalesce(list_sum(list_transform(ws, t -> length(t))), 0)
                  AS bigint) AS total_chars,
             cast((length(text) - length(replace(text, '#', '')))
                  + (length(text) - length(replace(text, '...', ''))) / 3
                  AS bigint) AS n_symbols,
             cast(len(string_split(text, chr(10))) AS bigint) AS n_lines,
             cast(len(list_filter(string_split(text, chr(10)),
                  l -> l LIKE '- %' OR l LIKE chr(8226) || '%'
                       OR l LIKE '* %')) AS bigint) AS n_bullet,
             cast(len(list_filter(string_split(text, chr(10)),
                  l -> l LIKE '%...')) AS bigint) AS n_ell,
             cast(len(list_filter(ws, t -> regexp_matches(t, '[A-Za-z]')))
                  AS bigint) AS n_alpha_words,
             cast(len(list_intersect(list_distinct(ws),
                  ['the','a','table','value']))
                  AS bigint) AS n_stopwords
      FROM w),
f AS (SELECT doc_id, n_words, total_chars, n_symbols, n_alpha_words,
             n_stopwords,
             (n_words >= 30 AND n_words <= 100000) AS flag_words,
             (3 * n_words <= total_chars AND total_chars <= 10 * n_words)
                 AS flag_mean_len,
             (10 * n_symbols <= n_words) AS flag_symbol,
             (10 * n_bullet <= 9 * n_lines) AS flag_bullet,
             (10 * n_ell <= 3 * n_lines) AS flag_ellipsis,
             (10 * n_alpha_words >= 8 * n_words) AS flag_alpha,
             (n_stopwords >= 2) AS flag_stop
      FROM c)
SELECT doc_id, n_words, total_chars, n_symbols, n_alpha_words, n_stopwords,
       flag_words, flag_mean_len, flag_symbol, flag_bullet, flag_ellipsis,
       flag_alpha, flag_stop,
       (flag_words AND flag_mean_len AND flag_symbol AND flag_bullet
        AND flag_ellipsis AND flag_alpha AND flag_stop) AS keep
FROM f ORDER BY doc_id
"""


def q_dedup_exactsubstr_cut(spark, sf):
    """ExactSubstr keep-one span removal (Lee et al. 2021 §4.1): every
    >= 8-token span occurring more than once survives only at its
    minimum-(doc_id, pos) occurrence; cut docs are re-assembled from
    the surviving tokens. The windowed group-by shape replaces the
    paper's suffix array — identical keep-one coverage, but every
    stage is a content-keyed shuffle whose volume follows the
    DUPLICATED span mass, never the corpus."""
    from .ops.curation import exactsubstr_cut

    return exactsubstr_cut(_docs(spark, sf), min_len=8).orderBy("doc_id")


SQL_EXACTSUBSTR_CUT = """
WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS ws
           FROM documents),
tok AS (SELECT doc_id, i, ws[i] AS tok
        FROM w, unnest(generate_series(1, len(ws))) t(i)),
win AS (SELECT doc_id, i AS p, md5(array_to_string(ws[i:i+7], ' ')) AS g
        FROM w, unnest(generate_series(1, len(ws) - 7)) t(i)
        WHERE len(ws) >= 8),
mk AS (SELECT doc_id, p,
              row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
       FROM win),
cov AS (SELECT DISTINCT doc_id, j AS i
        FROM mk, unnest(generate_series(p, p + 7)) t(j) WHERE rn > 1),
kept AS (SELECT tok.doc_id, tok.i, tok.tok
         FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.i = cov.i
         WHERE cov.doc_id IS NULL),
reb AS (SELECT doc_id, cast(count(*) AS bigint) AS n_kept,
               string_agg(tok, ' ' ORDER BY i) AS text_clean
        FROM kept GROUP BY 1),
sz AS (SELECT doc_id, cast(len(ws) AS bigint) AS n_tokens FROM w)
SELECT sz.doc_id, sz.n_tokens,
       sz.n_tokens - coalesce(reb.n_kept, 0) AS n_removed,
       coalesce(reb.text_clean, '') AS text_clean
FROM sz LEFT JOIN reb USING (doc_id) ORDER BY doc_id
"""


def q_layout_bucketed_join(spark, sf):
    """Co-bucketed storage join: documents and their token stats are
    written as SAME-bucketed catalog tables (murmur3(doc_id) % 8), so
    the by-id join — the shape every gate application / keep-one /
    decontamination pass repeats — satisfies its distribution
    requirement from the LAYOUT and runs with zero exchanges
    (plan-pinned in tests/test_layout.py; the oracle checks the join
    VALUES, which are bucketing-invariant). The bucketed pair is built
    ONCE per (sf corpus, session): a deterministic sf-keyed location +
    table name, reused when already cataloged — no per-invocation
    mkdtemp leak, no fixed-name races between sessions sharing a
    metastore (ADVICE r11) — mirroring production, where the layout
    write is a one-time cost amortized over every later join."""
    import hashlib
    import os
    import tempfile

    from .ops.layout import bucketed_join, write_bucketed
    from .ops.text import token_stats

    key = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:8]
    dt, st = f"swarm_bkt_docs_{key}", f"swarm_bkt_stats_{key}"
    if not (spark.catalog.tableExists(dt) and spark.catalog.tableExists(st)):
        base = os.path.join(tempfile.gettempdir(), f"swarm_bkt_{key}")
        docs = _docs(spark, sf).select("doc_id", "lang", "text")
        write_bucketed(docs, dt, os.path.join(base, "docs"), 8)
        write_bucketed(token_stats(docs), st, os.path.join(base, "stats"), 8)
    return (
        bucketed_join(spark, dt, st)
        .select("doc_id", "lang", "n_tokens", "n_distinct_tokens")
        .orderBy("doc_id")
    )


SQL_BUCKETED_JOIN = """
WITH w AS (SELECT doc_id, lang, regexp_split_to_array(text, ' +') AS ws
           FROM documents)
SELECT doc_id, lang, cast(len(ws) AS bigint) AS n_tokens,
       cast(len(list_distinct(ws)) AS bigint) AS n_distinct_tokens
FROM w ORDER BY doc_id
"""


def q_text_gopher_repetition(spark, sf):
    """The repetition half of the Gopher filter (Rae et al. 2021
    §A1.1): per doc, the character fraction of the most frequent
    word n-gram (n=2,3) and the character fraction covered by
    within-doc duplicated n-grams (n=5,8), all exact integer
    micro-units off ONE gram explode; ties break to the
    lexicographically greatest gram in both engines."""
    from .ops.curation import gopher_repetition

    return gopher_repetition(
        _docs(spark, sf), top_ns=(2, 3), dup_ns=(5, 8)
    ).orderBy("doc_id")


def _gr_top_cte(n: int) -> str:
    return f"""
c{n} AS (SELECT doc_id, array_to_string(ws[i:i+{n - 1}], ' ') AS g,
                cast(count(*) AS bigint) AS c
         FROM w, unnest(generate_series(1, len(ws) - {n - 1})) t(i)
         WHERE len(ws) >= {n} GROUP BY 1, 2),
t{n} AS (SELECT doc_id, c * (length(g) - {n - 1}) AS cov,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY c DESC, g DESC) AS rn
         FROM c{n})"""


def _gr_dup_cte(n: int) -> str:
    return f"""
p{n} AS (SELECT doc_id, i AS p, array_to_string(ws[i:i+{n - 1}], ' ') AS g
         FROM w, unnest(generate_series(1, len(ws) - {n - 1})) t(i)
         WHERE len(ws) >= {n}),
m{n} AS (SELECT doc_id, p FROM (
           SELECT doc_id, p, count(*) OVER (PARTITION BY doc_id, g) AS c
           FROM p{n}) x WHERE c > 1),
v{n} AS (SELECT DISTINCT doc_id, j AS i
         FROM m{n}, unnest(generate_series(p, p + {n - 1})) t(j)),
d{n} AS (SELECT w.doc_id,
                cast(sum(length(w.ws[v{n}.i])) AS bigint) AS cov
         FROM v{n} JOIN w ON v{n}.doc_id = w.doc_id GROUP BY 1)"""


SQL_GOPHER_REPETITION = f"""
WITH w AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'),
                              t -> t != '') AS ws
           FROM documents),
sz AS (SELECT doc_id,
              cast(coalesce(list_sum(list_transform(ws, t -> length(t))), 0)
                  AS bigint) AS total_chars
       FROM w),{_gr_top_cte(2)},{_gr_top_cte(3)},{_gr_dup_cte(5)},{_gr_dup_cte(8)}
SELECT sz.doc_id, sz.total_chars,
       coalesce((SELECT cov FROM t2 WHERE t2.doc_id = sz.doc_id AND rn = 1), 0)
           * 1000000 // sz.total_chars AS top2_frac_micro,
       coalesce((SELECT cov FROM t3 WHERE t3.doc_id = sz.doc_id AND rn = 1), 0)
           * 1000000 // sz.total_chars AS top3_frac_micro,
       coalesce((SELECT cov FROM d5 WHERE d5.doc_id = sz.doc_id), 0)
           * 1000000 // sz.total_chars AS dup5_frac_micro,
       coalesce((SELECT cov FROM d8 WHERE d8.doc_id = sz.doc_id), 0)
           * 1000000 // sz.total_chars AS dup8_frac_micro
FROM sz ORDER BY sz.doc_id
"""


def q_corpus_curate_modern(spark, sf):
    """The modern published-recipe curation pipeline END TO END:
    exact text dedup -> Gopher document rules -> Gopher repetition
    thresholds -> ExactSubstr duplicated-span cut (drop docs fully
    consumed) — the FineWeb/Gopher/Lee-et-al. composition a real
    pretraining corpus pass runs, pinned as ONE oracled query so the
    gates are proven to compose, not just to work in isolation."""
    from .ops.curation import (
        exactsubstr_cut,
        gopher_gate,
        gopher_repetition_gate,
    )
    from .ops.dedup import exact_dedup_text

    docs = _docs(spark, sf).select("doc_id", "text")
    kept = exact_dedup_text(docs)
    # gopher_gate is now a pure per-row filter (no flag-frame
    # self-join); the repetition gate still consumes its input TWICE
    # (the gram-aggregation branch + the semi-join left side), so
    # stage the dedup+rules lineage once (r14, guide §5). r15: staged
    # via localCheckpoint instead of persist — same one-evaluation
    # barrier, but nothing is left registered in the session
    # CacheManager after the terminal action (the r14 VERDICT #6
    # embedded-use leak); blocks are context-cleaner-freed with the
    # frame, and every invocation still recomputes from parquet.
    kept = gopher_gate(
        kept, min_words=30, stopwords=("the", "a", "table", "value")
    ).localCheckpoint(eager=True)
    kept = gopher_repetition_gate(kept, top_ns=(2, 3), dup_ns=(5, 8))
    # stage the gated frame once: the span cut consumes it three
    # times (stream, windows x2), and re-running the four-gate chain
    # per consumer measured ~25% slower at 10x; production stages the
    # gated corpus to parquet between passes — localCheckpoint is the
    # in-session equivalent (executor loss recomputes the job, the
    # documented trade)
    kept = kept.localCheckpoint(eager=True)
    cut = exactsubstr_cut(kept, min_len=8)
    return (
        cut.where(F.col("n_removed") < F.col("n_tokens"))
        .select("doc_id", F.col("text_clean").alias("text"))
        .orderBy("doc_id")
    )


_CURATE_MODERN_REP_KEEP = """
SELECT sz.doc_id
FROM sz
WHERE coalesce((SELECT cov FROM t2 WHERE t2.doc_id = sz.doc_id AND rn = 1), 0)
          * 1000000 // sz.total_chars <= 200000
  AND coalesce((SELECT cov FROM t3 WHERE t3.doc_id = sz.doc_id AND rn = 1), 0)
          * 1000000 // sz.total_chars <= 180000
  AND coalesce((SELECT cov FROM d5 WHERE d5.doc_id = sz.doc_id), 0)
          * 1000000 // sz.total_chars <= 150000
  AND coalesce((SELECT cov FROM d8 WHERE d8.doc_id = sz.doc_id), 0)
          * 1000000 // sz.total_chars <= 120000
"""

SQL_CURATE_MODERN = f"""
WITH ed AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
d0 AS (SELECT d.doc_id, d.text FROM documents d JOIN ed USING (doc_id)),
w0 AS (SELECT doc_id, text,
              list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'),
                          t -> t != '') AS ws
       FROM d0),
d1 AS (SELECT doc_id, text, ws FROM w0 WHERE
    len(ws) BETWEEN 30 AND 100000
    AND 3 * len(ws) <= list_sum(list_transform(ws, t -> length(t)))
    AND list_sum(list_transform(ws, t -> length(t))) <= 10 * len(ws)
    AND 10 * cast((length(text) - length(replace(text, '#', '')))
        + (length(text) - length(replace(text, '...', ''))) / 3 AS bigint)
        <= len(ws)
    AND 10 * len(list_filter(string_split(text, chr(10)),
        l -> l LIKE '- %' OR l LIKE chr(8226) || '%' OR l LIKE '* %'))
        <= 9 * len(string_split(text, chr(10)))
    AND 10 * len(list_filter(string_split(text, chr(10)), l -> l LIKE '%...'))
        <= 3 * len(string_split(text, chr(10)))
    AND 10 * len(list_filter(ws, t -> regexp_matches(t, '[A-Za-z]')))
        >= 8 * len(ws)
    AND len(list_intersect(list_distinct(ws), ['the','a','table','value']))
        >= 2),
w AS (SELECT doc_id, ws FROM d1),
sz AS (SELECT doc_id,
              cast(list_sum(list_transform(ws, t -> length(t))) AS bigint)
                  AS total_chars
       FROM w),{_gr_top_cte(2)},{_gr_top_cte(3)},{_gr_dup_cte(5)},{_gr_dup_cte(8)},
d2 AS (SELECT d1.doc_id, regexp_split_to_array(d1.text, ' +') AS ws FROM d1
       JOIN ({_CURATE_MODERN_REP_KEEP}) rk USING (doc_id)),
xtok AS (SELECT doc_id, i, ws[i] AS tok
         FROM d2, unnest(generate_series(1, len(ws))) t(i)),
xwin AS (SELECT doc_id, i AS p, md5(array_to_string(ws[i:i+7], ' ')) AS g
         FROM d2, unnest(generate_series(1, len(ws) - 7)) t(i)
         WHERE len(ws) >= 8),
xmk AS (SELECT doc_id, p,
               row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
        FROM xwin),
xcov AS (SELECT DISTINCT doc_id, j AS i
         FROM xmk, unnest(generate_series(p, p + 7)) t(j) WHERE rn > 1),
xkept AS (SELECT xtok.doc_id, xtok.i, xtok.tok
          FROM xtok LEFT JOIN xcov
            ON xtok.doc_id = xcov.doc_id AND xtok.i = xcov.i
          WHERE xcov.doc_id IS NULL)
SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text
FROM xkept GROUP BY doc_id ORDER BY doc_id
"""


def q_corpus_curate_ccnet(spark, sf):
    """The CCNet pipeline END TO END (Wenzek et al. 2020): language
    id -> per-language reference LM -> per-language perplexity
    terciles -> keep head+middle — composed as ONE oracled row the
    way ``corpus_curate_modern`` composes the Gopher/ExactSubstr
    recipe (r11 VERDICT #5). The per-language models are ONE grouped
    count frame (``lm_train_by``: a single corpus scan trains every
    language simultaneously) and scoring is one grouped pass
    (``lm_perplexity_by``) — not |languages| filtered scans — so the
    composition holds its one-train-scan/one-score-scan shape at any
    language count. Order-3 backoff chain (the multi-tier operating
    shape; CCNet's production point n=5 is the same code path —
    ``order`` is a knob, and the order-5 tiers are pinned by
    ``text_lm_trigram``/``text_lm_eval3``'s chain oracles). Trusted
    per-language training data is proxied by the corpus's own
    predicted-language slices (CCNet trains on external Wikipedia;
    the composition contract is identical)."""
    from .ops.lm import lm_buckets_scored, lm_perplexity_by, lm_train_by
    from .ops.text import language_pred_expr

    # Reuse barriers (r14, guide §5/§2.4 — measured from the event-log
    # digest: 5-6 SERIAL single-task jobs of 1.4-6.4 s each): the
    # language-id projection is consumed by train AND score (the
    # argmax expression re-ran per consumer, 3 × ~1.9 s jobs); the
    # grouped count MODEL feeds 2·order−1 = 5 scoring joins (the train
    # aggregation re-ran per join branch); and the tercile-bucket step
    # consumes SCORED twice (threshold histogram + label join). All
    # three are staged with eager localCheckpoint — model/scored are
    # vocab- and doc-count-sized; docs is the wave being curated, which
    # production stages between passes anyway (the CLI's
    # localCheckpoint precedent). The blocks never register in the
    # CacheManager, so spark.catalog.clearCache() cannot free them; the
    # context cleaner does once the returned frame is dropped. The
    # repartition spreads the one-row-group scan so the train/score
    # stages run at full width instead of single-task (§2.5).
    par = spark.sparkContext.defaultParallelism
    docs = (
        _docs(spark, sf)
        .repartition(par)
        .select("doc_id", "text", language_pred_expr("text").alias("pred_lang"))
        .localCheckpoint(eager=True)
    )
    model = lm_train_by(docs, group_col="pred_lang", order=3).localCheckpoint(
        eager=True
    )
    scored = lm_perplexity_by(
        docs, model, group_col="pred_lang", order=3
    ).localCheckpoint(eager=True)
    buckets = lm_buckets_scored(scored, group_col="pred_lang")
    return buckets.where(F.col("bucket") != "tail").orderBy("doc_id")


def _ccnet_sql() -> str:
    """The CCNet chain re-derived in DuckDB: the language-id argmax,
    GROUPED order-3 train/score tables (every count table and join
    keyed by grp), per-group T/V, the three-branch backoff cost with
    the SAME α-power double literals as ops/lm.py::_alpha_pow, then
    nearest-rank terciles per group and the head+middle keep."""
    a1, a2 = repr(0.4**1), repr(0.4**2)
    return f"""
WITH w0 AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS ws
            FROM documents),
sc AS (SELECT doc_id, {_SCORES} FROM w0),
mx AS (SELECT *, greatest(score_en, score_de, score_fr, score_es,
                          score_zh) AS best FROM sc),
lid AS (SELECT doc_id,
               CASE WHEN best = 0 THEN 'und'
                    WHEN score_en = best THEN 'en'
                    WHEN score_de = best THEN 'de'
                    WHEN score_fr = best THEN 'fr'
                    WHEN score_es = best THEN 'es'
                    ELSE 'zh' END AS grp
        FROM mx),
w AS (SELECT d.doc_id, lid.grp,
             list_filter(regexp_split_to_array(d.text, ' +'),
                         t -> length(t) > 0) AS ws
      FROM documents d JOIN lid USING (doc_id)),
uni AS (SELECT grp, tok, cast(count(*) AS bigint) AS cnt
        FROM (SELECT grp, unnest(ws) AS tok FROM w) GROUP BY 1, 2),
bisrc AS (SELECT grp, ws, unnest(range(len(ws) - 1)) AS i FROM w),
bi AS (SELECT grp, ws[i + 1] AS ctx, ws[i + 2] AS tok,
              cast(count(*) AS bigint) AS cnt
       FROM bisrc GROUP BY 1, 2, 3),
trisrc AS (SELECT grp, ws, unnest(range(len(ws) - 2)) AS i FROM w),
tri AS (SELECT grp, ws[i + 1] || ' ' || ws[i + 2] AS ctx, ws[i + 3] AS tok,
               cast(count(*) AS bigint) AS cnt
        FROM trisrc GROUP BY 1, 2, 3),
tv AS (SELECT grp, cast(sum(cnt) AS bigint) AS t,
              cast(count(*) AS bigint) AS v
       FROM uni GROUP BY 1),
ent AS (SELECT doc_id, grp, ws, unnest(ws) AS tok,
               unnest(range(len(ws))) AS i
        FROM w),
ent2 AS (SELECT doc_id, grp, tok, i,
                CASE WHEN i >= 1 THEN ws[i] END AS prev,
                CASE WHEN i >= 2 THEN ws[i - 1] || ' ' || ws[i] END AS nctx3,
                CASE WHEN i >= 2 THEN ws[i - 1] END AS dctx3
         FROM ent),
scored AS (
  SELECT e.doc_id, e.grp,
         cast(CASE
           WHEN t3.cnt IS NOT NULL AND d3.cnt IS NOT NULL THEN
             round(-1000000 * ln(t3.cnt / d3.cnt))
           WHEN b.cnt IS NOT NULL AND uc.cnt IS NOT NULL THEN
             round(-1000000 * ln(
               (CASE WHEN least(3, e.i + 1) - 2 = 0 THEN 1.0 ELSE {a1} END)
               * (b.cnt / uc.cnt)))
           ELSE
             round(-1000000 * ln(
               (CASE least(3, e.i + 1) - 1
                     WHEN 0 THEN 1.0 WHEN 1 THEN {a1} ELSE {a2} END)
               * ((coalesce(u.cnt, 0) + 1) / (tv.t + tv.v + 1))))
         END AS bigint) AS c
  FROM ent2 e
  JOIN tv USING (grp)
  LEFT JOIN tri t3 ON t3.grp = e.grp AND t3.ctx = e.nctx3 AND t3.tok = e.tok
  LEFT JOIN bi d3 ON d3.grp = e.grp AND d3.ctx = e.dctx3 AND d3.tok = e.prev
  LEFT JOIN bi b ON b.grp = e.grp AND b.ctx = e.prev AND b.tok = e.tok
  LEFT JOIN uni u ON u.grp = e.grp AND u.tok = e.tok
  LEFT JOIN uni uc ON uc.grp = e.grp AND uc.tok = e.prev),
ppl AS (SELECT doc_id, grp, cast(count(*) AS bigint) AS n_toks,
               cast(sum(c) AS bigint) AS cost_micro,
               cast(round(sum(c) / count(*)) AS bigint) AS avg_micro
        FROM scored GROUP BY 1, 2),
h AS (SELECT grp, avg_micro AS v, cast(count(*) AS bigint) AS c
      FROM ppl GROUP BY 1, 2),
tq AS (SELECT grp, cast(sum(c) AS bigint) AS n FROM h GROUP BY 1),
cu AS (SELECT grp, v, sum(c) OVER (PARTITION BY grp ORDER BY v) AS cum
       FROM h),
t1 AS (SELECT cu.grp, min(v) AS thr FROM cu JOIN tq USING (grp)
       WHERE cum >= (333 * n + 999) // 1000 GROUP BY 1),
t2 AS (SELECT cu.grp, min(v) AS thr FROM cu JOIN tq USING (grp)
       WHERE cum >= (667 * n + 999) // 1000 GROUP BY 1)
SELECT ppl.doc_id, ppl.grp AS pred_lang, ppl.n_toks, ppl.avg_micro,
       CASE WHEN ppl.avg_micro <= t1.thr THEN 'head'
            WHEN ppl.avg_micro <= t2.thr THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ppl JOIN t1 ON t1.grp = ppl.grp JOIN t2 ON t2.grp = ppl.grp
WHERE CASE WHEN ppl.avg_micro <= t1.thr THEN 'head'
           WHEN ppl.avg_micro <= t2.thr THEN 'middle'
           ELSE 'tail' END != 'tail'
ORDER BY ppl.doc_id
"""


SQL_CURATE_CCNET = _ccnet_sql()


def _ccnet_lm_index(spark, sf) -> str:
    """Build-once PERSISTED grouped CCNet reference model (the
    ``quality lm-train --by`` artifact): order-3 per-predicted-
    language count tables over the documents corpus, written under a
    content-fingerprint-keyed temp location and probed by every later
    scoring pass — the train-once / probe-per-wave production shape,
    mirroring the ``_bm25_kw_index`` precedent (same staging-dir +
    rename-into-place discipline against concurrent sessions)."""
    import os
    import shutil

    from .ops.lm import lm_train_by, save_lm
    from .ops.text import language_pred_expr

    base = _stored_fixture_base(sf, "swarm_ccnetlm")
    if not os.path.exists(os.path.join(base, "_SUCCESS")):
        stage = f"{base}.building-{os.getpid()}"
        docs = _docs(spark, sf).select(
            "doc_id", "text", language_pred_expr("text").alias("pred_lang")
        )
        save_lm(
            lm_train_by(docs, group_col="pred_lang", order=3), stage
        )
        try:
            os.rename(stage, base)
        except OSError:
            # a concurrent session renamed its build in first — use it
            shutil.rmtree(stage, ignore_errors=True)
    return base


def q_corpus_curate_ccnet_idx(spark, sf):
    """The CCNet tercile gate probing a PERSISTED grouped model
    (r13 VERDICT #7): the serving shape `curate --ccnet
    --ccnet-lm-model` runs in production — reference LMs trained
    once, each wave pays ONE grouped scoring pass + the per-language
    tercile cut against the stored count tables. The oracle is the
    full-chain retrain SQL (``SQL_CURATE_CCNET``), so a green row is
    a value-exact proof that probing the stored model equals training
    in-plan — the ``bm25_pruned_idx`` precedent applied to the LM
    tier. The plan verifiably scores against the stored parquet, not
    a retrain subtree — pinned in tests/test_plans.py."""
    from .ops.lm import lm_buckets_scored, lm_perplexity_by, load_lm
    from .ops.text import language_pred_expr

    docs = _docs(spark, sf).select(
        "doc_id", "text", language_pred_expr("text").alias("pred_lang")
    )
    model = load_lm(spark, _ccnet_lm_index(spark, sf))
    scored = lm_perplexity_by(docs, model, group_col="pred_lang", order=3)
    buckets = lm_buckets_scored(scored, group_col="pred_lang")
    return buckets.where(F.col("bucket") != "tail").orderBy("doc_id")


def q_dedup_exactsubstr_incremental(spark, sf):
    """Incremental ExactSubstr: wave 1 (doc_id < 250) is cut
    self-contained and its window stats land in the ledger; wave 2
    is cut against that ledger WITHOUT rescanning wave 1 — the
    (MIN first-occurrence, SUM count) monoid contract. Doc ids ascend
    across waves, so arrival-order keep-first equals the one-shot
    cut: the oracle IS the one-shot SQL, green == the equivalence
    theorem holds on real data."""
    from .ops.curation import (
        exactsubstr_cut,
        exactsubstr_cut_wave,
        exactsubstr_window_stats,
    )

    docs = _docs(spark, sf)
    w1 = docs.where(F.col("doc_id") < 250)
    w2 = docs.where(F.col("doc_id") >= 250)
    led = exactsubstr_window_stats(w1, min_len=8)
    return (
        exactsubstr_cut(w1, min_len=8)
        .unionByName(exactsubstr_cut_wave(w2, led, min_len=8))
        .orderBy("doc_id")
    )


OPS: dict[str, tuple[Callable, str | None]] = {
    "text_gopher_rules": (q_text_gopher_rules, SQL_GOPHER_RULES),
    "text_gopher_repetition": (q_text_gopher_repetition, SQL_GOPHER_REPETITION),
    "corpus_curate_modern": (q_corpus_curate_modern, SQL_CURATE_MODERN),
    "corpus_curate_ccnet": (q_corpus_curate_ccnet, SQL_CURATE_CCNET),
    "corpus_curate_ccnet_idx": (q_corpus_curate_ccnet_idx, SQL_CURATE_CCNET),
    "dedup_exactsubstr_incremental": (
        q_dedup_exactsubstr_incremental,
        SQL_EXACTSUBSTR_CUT,
    ),
    "layout_bucketed_join": (q_layout_bucketed_join, SQL_BUCKETED_JOIN),
    "dedup_exactsubstr_cut": (q_dedup_exactsubstr_cut, SQL_EXACTSUBSTR_CUT),
    "text_lm_trigram": (q_text_lm_trigram, SQL_LM_TRIGRAM),
    "text_lm_eval3": (q_text_lm_eval3, SQL_LM_EVAL3),
    "text_lm_perplexity": (q_text_lm_perplexity, SQL_LM_PPL),
    "text_lm_merge": (q_text_lm_merge, SQL_LM_PPL),
    "text_lm_merge_by": (q_text_lm_merge_by, SQL_LM_MERGE_BY),
    "text_lm_gate": (q_text_lm_gate, SQL_LM_GATE),
    "text_lm_buckets": (q_text_lm_buckets, SQL_LM_BUCKETS),
    "text_lm_eval": (q_text_lm_eval, SQL_LM_EVAL),
    "corpus_hll_distinct": (q_corpus_hll_distinct, SQL_HLL_DISTINCT),
    "sample_weighted": (q_sample_weighted, SQL_SAMPLE_WEIGHTED),
    "sample_temperature": (q_sample_temperature, SQL_SAMPLE_TEMPERATURE),
    "layout_zorder": (q_layout_zorder, SQL_LAYOUT_ZORDER),
    "similarity_tfidf_pairs": (q_similarity_tfidf_pairs, SQL_TFIDF_PAIRS),
    "corpus_distinct_sketch": (q_corpus_distinct_sketch, SQL_DISTINCT_SKETCH),
    "corpus_sketch_incremental": (q_corpus_sketch_incremental, SQL_SKETCH_INCR),
    "corpus_cms_freq": (q_corpus_cms_freq, SQL_CMS_FREQ),
    "sample_shuffle_order": (q_sample_shuffle_order, SQL_SHUFFLE_ORDER),
    "corpus_expectations": (q_corpus_expectations, SQL_EXPECTATIONS),
    "corpus_expectations_approx": (q_corpus_expectations_approx, SQL_EXPECTATIONS_APPROX),
    "dedup_bloom_gate": (q_dedup_bloom_gate, SQL_BLOOM_GATE),
    "text_quality_gate": (q_text_quality_gate, SQL_QUALITY_GATE),
    "ann_ivf_assign_wave": (q_ann_ivf_assign_wave, SQL_ASSIGN_WAVE),
    "corpus_top_ngrams": (q_corpus_top_ngrams, SQL_TOP_NGRAMS),
    "corpus_tok_quantiles": (q_corpus_tok_quantiles, SQL_TOK_QUANTILES),
    "corpus_quantiles_incremental": (q_corpus_quantiles_incremental, SQL_QUANTILES_INCR),
    "dedup_simhash_incremental": (q_dedup_simhash_incremental, SQL_SIMHASH_INC),
    "ann_topk_dot": (q_ann_topk_dot, SQL_ANN_DOT),
    "ann_ivf_cells": (q_ann_ivf_cells, SQL_ANN_IVF_CELLS),
    "corpus_gate_report": (q_corpus_gate_report, SQL_GATE_REPORT),
    "dedup_minhash_incremental": (q_dedup_minhash_incremental, SQL_MINHASH_INC),
    "dedup_winnow_pairs": (q_dedup_winnow_pairs, SQL_WINNOW_PAIRS),
    "text_winnow": (q_text_winnow, SQL_WINNOW),
    "dedup_containment": (q_dedup_containment, SQL_CONTAINMENT),
    "ann_topk_int8": (q_ann_topk_int8, SQL_ANN_INT8),
    "embedding_quantize": (q_embedding_quantize, SQL_EMB_QUANTIZE),
    "multimodal_frame_sample": (q_multimodal_frame_sample, SQL_FRAME_SAMPLE),
    "text_surprisal": (q_text_surprisal, SQL_SURPRISAL),
    "text_bigram_surprisal": (q_text_bigram_surprisal, SQL_BIGRAM_SURPRISAL),
    "dedup_ngram_coverage": (q_dedup_ngram_coverage, SQL_NGRAM_COVERAGE),
    "sample_stratified_cap": (q_sample_stratified_cap, SQL_STRATIFIED_CAP),
    "sample_balance_langs": (q_sample_balance_langs, SQL_BALANCE_LANGS),
    "sample_token_budget": (q_sample_token_budget, SQL_TOKEN_BUDGET),
    "corpus_mixture_plan": (q_corpus_mixture_plan, SQL_MIXTURE_PLAN),
    "sample_mixture": (q_sample_mixture, SQL_SAMPLE_MIXTURE),
    "text_dsir": (q_text_dsir, SQL_DSIR),
    "text_nb_quality": (q_text_nb_quality, SQL_NB_QUALITY),
    "text_nb_eval": (q_text_nb_eval, SQL_NB_EVAL),
    "text_chunks": (q_text_chunks, SQL_TEXT_CHUNKS),
    "dedup_substring_runs": (q_dedup_substring_runs, SQL_SUBSTRING_RUNS),
    "text_hash_embed": (q_text_hash_embed, SQL_HASH_EMBED),
    "dedup_semantic_text": (q_dedup_semantic_text, SQL_DEDUP_SEMANTIC_TEXT),
    "dedup_signlsh_recall": (q_dedup_signlsh_recall, SQL_SIGNLSH_RECALL),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF),
    "knn_classify": (q_knn_classify, SQL_KNN_CLASSIFY),
    "text_token_stats": (q_text_token_stats, SQL_TOKEN_STATS),
    "text_language_id": (q_text_language_id, SQL_LANGUAGE_ID),
    "text_quality": (q_text_quality, SQL_QUALITY),
    "text_fingerprint": (q_text_fingerprint, SQL_FINGERPRINT),
    "text_normalize": (q_text_normalize, SQL_NORMALIZE),
    "text_repetition": (q_text_repetition, SQL_REPETITION),
    "text_pii_scrub": (q_text_pii_scrub, SQL_PII_SCRUB),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_NGRAM_JACCARD),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_keep_one": (q_dedup_keep_one, SQL_DEDUP_KEEP_ONE),
    "dedup_keep_best": (q_dedup_keep_best, SQL_DEDUP_KEEP_BEST),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_MINHASH_LSH),
    "dedup_minhash_recall": (q_dedup_minhash_recall, SQL_MINHASH_RECALL),
    "dedup_simhash": (q_dedup_simhash, SQL_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, SQL_SIMHASH_PAIRS),
    "dedup_simhash64_pairs": (q_dedup_simhash64_pairs, SQL_SIMHASH64_PAIRS),
    "dedup_embedding": (q_dedup_embedding, SQL_DEDUP_EMBEDDING),
    "dedup_embedding_signlsh": (q_dedup_embedding_signlsh, SQL_DEDUP_EMBEDDING_SIGNLSH),
    "ann_topk_bruteforce": (q_ann_topk_bruteforce, SQL_ANN_BRUTEFORCE),
    "ann_topk_cells": (q_ann_topk_cells, SQL_ANN_CELLS),
    "ann_topk_ivf": (q_ann_topk_ivf, SQL_ANN_IVF),
    "ann_ivf_recall": (q_ann_ivf_recall, SQL_ANN_IVF_RECALL),
    "ann_pq_adc": (q_ann_pq_adc, SQL_ANN_PQ),
    "ann_pq_rerank": (q_ann_pq_rerank, SQL_ANN_PQ_RERANK),
    "ann_topk_ivfpq": (q_ann_topk_ivfpq, SQL_ANN_IVFPQ),
    "ann_ivfpq_residual": (q_ann_ivfpq_residual, SQL_ANN_IVFPQ_RES),
    "bm25_topk": (q_bm25_topk, SQL_BM25),
    "bm25_incremental": (q_bm25_incremental, SQL_BM25),
    "lm_topk": (q_lm_topk, SQL_LM_TOPK),
    "bm25_pruned": (q_bm25_pruned, SQL_BM25),
    "lm_pruned": (q_lm_pruned, SQL_LM_TOPK),
    "bm25_topk_kw": (q_bm25_topk_kw, SQL_BM25_KW),
    "bm25_pruned_kw": (q_bm25_pruned_kw, SQL_BM25_KW),
    "bm25_pruned_idx": (q_bm25_pruned_idx, SQL_BM25_KW),
    "lm_pruned_idx": (q_lm_pruned_idx, SQL_LM_TOPK_KW),
    "lm_topk_kw": (q_lm_topk_kw, SQL_LM_TOPK_KW),
    "lm_pruned_kw": (q_lm_pruned_kw, SQL_LM_TOPK_KW),
    "phrase_match_rare": (q_phrase_match_rare, SQL_PHRASE_MATCH),
    "text_bpe_tokens": (q_text_bpe_tokens, SQL_BPE_TOKENS),
    "pack_chunks_bpe": (q_pack_chunks_bpe, SQL_PACK_CHUNKS_BPE),
    "phrase_match": (q_phrase_match, SQL_PHRASE_MATCH),
    "ann_mmr_rerank": (q_ann_mmr_rerank, SQL_ANN_MMR),
    "hybrid_rrf": (q_hybrid_rrf, SQL_HYBRID_RRF),
    "dedup_semantic": (q_dedup_semantic, SQL_DEDUP_SEMANTIC),
    "dedup_semantic_keep": (q_dedup_semantic_keep, SQL_DEDUP_SEMANTIC_KEEP),
    "asof_latest_order": (q_asof_latest_order, SQL_ASOF),
    "asof_next_order": (q_asof_next_order, SQL_ASOF_NEXT),
    "asof_nearest_order": (q_asof_nearest_order, SQL_ASOF_NEAREST),
    "range_window_counts": (q_range_window_counts, SQL_RANGE_WINDOW),
    "range_overlap_pairs": (q_range_overlap_pairs, SQL_RANGE_OVERLAP),
    "sample_docs": (q_sample_docs, SQL_SAMPLE_DOCS),
    "sample_split_counts": (q_sample_split_counts, SQL_SAMPLE_SPLIT),
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL),
    "pack_chunks": (q_pack_chunks, SQL_PACK_CHUNKS),
    "pack_shards": (q_pack_shards, SQL_PACK_SHARDS),
    "pack_bins": (q_pack_bins, SQL_PACK_BINS),
    "pack_bins_report": (q_pack_bins_report, SQL_PACK_BINS_REPORT),
    "text_strip_segments": (q_text_strip_segments, SQL_STRIP_SEGMENTS),
    "text_decontaminate": (q_text_decontaminate, SQL_DECONTAMINATE),
    "corpus_curate": (q_corpus_curate, SQL_CORPUS_CURATE),
    "corpus_vocab": (q_corpus_vocab, SQL_CORPUS_VOCAB),
    "corpus_vocab_incremental": (q_corpus_vocab_incremental, SQL_VOCAB_INCR),
    "corpus_vocab_drift": (q_corpus_vocab_drift, SQL_VOCAB_DRIFT),
    "corpus_length_hist": (q_corpus_length_hist, SQL_CORPUS_LENGTH_HIST),
}
