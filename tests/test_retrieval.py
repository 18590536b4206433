"""Lexical retrieval: BM25 semantics against hand-computed scores,
the stored-statistic/merge contracts, and reciprocal-rank fusion.
Full-value DuckDB parity is pinned by test_oracle (bm25_topk,
hybrid_rrf); these tests cover the operator contracts directly."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from swarm_spark.ops.retrieval import (
    bm25_postings,
    bm25_stats,
    bm25_topk,
    bm25_totals,
    load_bm25,
    rrf_fuse,
    save_bm25,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def corpus(spark):
    return _docs(
        spark,
        [
            (0, "spark shuffle join"),
            (1, "spark spark broadcast join"),
            (2, "window agg shuffle"),
            (3, "broadcast hash join spark"),
            (4, "agg agg agg window"),
        ],
    )


def _bm25(tf, df, dl, n, avgdl, k1=1.2, b=0.75):
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    return (1_000_000 * idf) * ((tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl)))


class TestBm25:
    def test_scores_match_hand_formula(self, spark, corpus):
        queries = _docs(spark, [(100, "spark join")]).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        out = {r["id"]: r["score_micro"] for r in bm25_topk(corpus, queries, k=5).collect()}
        # corpus facts: N=5, total tokens 18, df(spark)=3, df(join)=3
        avgdl = 18 / 5
        for doc, terms in {
            0: [(1, 3, 3), (1, 3, 3)],  # spark tf=1, join tf=1, dl=3
            1: [(2, 3, 4), (1, 3, 4)],  # spark tf=2, join tf=1, dl=4
            3: [(1, 3, 4), (1, 3, 4)],
        }.items():
            want = sum(round(_bm25(tf, df, dl, 5, avgdl)) for tf, df, dl in terms)
            assert out[doc] == want, doc
        assert set(out) == {0, 1, 3}  # docs 2 and 4 share no query term

    def test_rank_order_and_ties(self, spark, corpus):
        queries = _docs(spark, [(100, "spark join")]).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        out = bm25_topk(corpus, queries, k=5).collect()
        assert [r["rank"] for r in out] == [1, 2, 3]
        scores = [r["score_micro"] for r in out]
        assert scores == sorted(scores, reverse=True)
        # doc 1 has spark twice in the shortest text sharing both terms
        assert out[0]["id"] == 1

    def test_query_terms_are_deduplicated(self, spark, corpus):
        q1 = _docs(spark, [(1, "spark join")]).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        q2 = _docs(spark, [(1, "spark spark join spark")]).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        a = sorted(map(tuple, bm25_topk(corpus, q1, k=5).collect()))
        b = sorted(map(tuple, bm25_topk(corpus, q2, k=5).collect()))
        assert a == b

    def test_persisted_postings_and_merge(self, spark, corpus):
        """postings/df stats are additive statistics: fold of two
        disjoint waves' frames == full recompute, and bm25_topk over
        the merged frame == bm25_topk over the corpus."""
        even = corpus.where(F.col("doc_id") % 2 == 0)
        odd = corpus.where(F.col("doc_id") % 2 == 1)
        merged = (
            bm25_postings(even).unionByName(bm25_postings(odd))
            .groupBy("id", "dl", "tok")
            .agg(F.sum("tf").alias("tf"))
        )
        full = bm25_postings(corpus)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, full.collect())
        )
        sa = sorted(map(tuple, bm25_stats(merged).collect()))
        sb = sorted(map(tuple, bm25_stats(full).collect()))
        assert sa == sb
        queries = _docs(spark, [(9, "broadcast window")]).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        via_post = sorted(
            map(tuple, bm25_topk(corpus, queries, k=3, postings=merged).collect())
        )
        direct = sorted(map(tuple, bm25_topk(corpus, queries, k=3).collect()))
        assert via_post == direct

    def test_broadcast_guard_and_partitioning_invariance(self, spark, corpus):
        queries = corpus.select(F.col("doc_id").alias("query_id"), "text")
        a = sorted(map(tuple, bm25_topk(corpus, queries, k=3).collect()))
        b = sorted(
            map(
                tuple,
                bm25_topk(
                    corpus.repartition(4), queries, k=3,
                    broadcast_max_queries=1, n_salts=3,
                ).collect(),
            )
        )
        assert a == b

    def test_bad_args(self, spark, corpus):
        q = corpus.select(F.col("doc_id").alias("query_id"), "text")
        with pytest.raises(ValueError, match="k >= 1"):
            bm25_topk(corpus, q, k=0)
        with pytest.raises(ValueError, match="empty"):
            bm25_topk(corpus.limit(0), q)
        with pytest.raises(ValueError, match="docs or a persisted"):
            bm25_topk(None, q)

    def test_totals_are_additive_and_exact(self, spark, corpus):
        even = corpus.where(F.col("doc_id") % 2 == 0)
        odd = corpus.where(F.col("doc_id") % 2 == 1)
        folded = (
            bm25_totals(even)
            .unionByName(bm25_totals(odd))
            .agg(F.sum("n_docs").alias("n"), F.sum("tot_tokens").alias("t"))
            .head()
        )
        full = bm25_totals(corpus).head()
        assert (folded["n"], folded["t"]) == (
            full["n_docs"],
            full["tot_tokens"],
        ) == (5, 18)

    def test_persisted_index_probe_never_reads_text(self, spark, corpus, tmp_path):
        """The build-once/probe-many contract (r8 ADVICE): probing a
        saved index with docs=None must (a) return exactly the ad-hoc
        build's rows and (b) execute with ONLY the index tables'
        parquet scans — the raw corpus text is not in the plan at all,
        so a probe batch costs zero corpus scans however large the
        corpus."""
        post = bm25_postings(corpus)
        save_bm25(post, bm25_stats(post), bm25_totals(corpus), str(tmp_path / "ix"))
        lpost, lstats, ltot = load_bm25(spark, str(tmp_path / "ix"))
        queries = _docs(spark, [(9, "broadcast window"), (8, "spark agg")]).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        probe = bm25_topk(
            None, queries, k=3, postings=lpost, stats=lstats, totals=ltot
        )
        got = sorted(map(tuple, probe.collect()))
        want = sorted(map(tuple, bm25_topk(corpus, queries, k=3).collect()))
        assert got == want
        final = (
            probe._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("+- == Initial Plan ==")[0]
        )
        # postings + stats + totals only (queries are a local relation)
        assert final.count("Scan parquet") <= 3

    def test_derived_totals_match_stored_on_dense_corpus(self, spark, corpus):
        """With postings but no stored totals, (N, Σdl) derive from the
        postings' distinct (id, dl) — identical to the stored statistic
        whenever every doc has >= 1 token (the documented caveat)."""
        post = bm25_postings(corpus)
        queries = _docs(spark, [(9, "broadcast window")]).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        derived = sorted(
            map(tuple, bm25_topk(None, queries, k=3, postings=post).collect())
        )
        stored = sorted(
            map(
                tuple,
                bm25_topk(
                    None, queries, k=3, postings=post, totals=bm25_totals(corpus)
                ).collect(),
            )
        )
        assert derived == stored


class TestRrfFuse:
    def _ranks(self, spark, rows):
        return spark.createDataFrame(rows, "query_id long, id long, rank long")

    def test_fusion_arithmetic(self, spark):
        a = self._ranks(spark, [(1, 10, 1), (1, 11, 2)])
        b = self._ranks(spark, [(1, 11, 1), (1, 12, 2)])
        out = {r["id"]: (r["rrf_micro"], r["rank"]) for r in rrf_fuse([a, b], k=5).collect()}
        c = lambda r: round(1_000_000.0 / (60 + r))
        assert out[11] == (c(2) + c(1), 1)  # in both lists -> wins
        assert out[10] == (c(1), 2)  # ties with 12 on score -> id order
        assert out[12] == (c(2), 3)

    def test_single_list_is_rank_preserving(self, spark):
        a = self._ranks(spark, [(1, 10, 1), (1, 11, 2), (1, 12, 3)])
        out = rrf_fuse([a], k=2).collect()
        assert [(r["id"], r["rank"]) for r in out] == [(10, 1), (11, 2)]

    def test_bad_args(self, spark):
        with pytest.raises(ValueError, match="at least one"):
            rrf_fuse([])
        a = self._ranks(spark, [(1, 10, 1)])
        with pytest.raises(ValueError, match="rrf_k"):
            rrf_fuse([a], rrf_k=0)


class TestLmTopk:
    def _queries(self, spark, rows):
        return spark.createDataFrame(rows, "query_id long, text string")

    def test_scores_match_hand_formula(self, spark, corpus):
        from swarm_spark.ops.retrieval import lm_topk

        q = self._queries(spark, [(100, "spark join")])
        got = {r["id"]: r["score_micro"] for r in lm_topk(corpus, q, k=5).collect()}
        # corpus totals: 5 docs, 18 tokens; cf(spark)=4, cf(join)=3
        tt, mu = 18.0, 2000.0
        docs = {
            0: {"spark": 1, "join": 1, "dl": 3},
            1: {"spark": 2, "join": 1, "dl": 4},
            2: {"dl": 3},
            3: {"spark": 1, "join": 1, "dl": 4},
            4: {"dl": 4},
        }
        cf = {"spark": 4, "join": 3}
        for did in (0, 1, 3):
            d = docs[did]
            s = sum(
                round(1_000_000.0 * math.log(1 + (d[t] * tt) / (mu * cf[t])))
                for t in ("spark", "join")
            )
            s += 2 * round(1_000_000.0 * math.log(mu / (d["dl"] + mu)))
            assert got[did] == s, (did, got[did], s)
        # docs 2 and 4 share no query term: not candidates
        assert set(got) == {0, 1, 3}

    def test_query_multiplicity_counts(self, spark, corpus):
        from swarm_spark.ops.retrieval import lm_topk

        q1 = self._queries(spark, [(0, "spark")])
        q2 = self._queries(spark, [(0, "spark spark")])
        s1 = {r["id"]: r["score_micro"] for r in lm_topk(corpus, q1).collect()}
        s2 = {r["id"]: r["score_micro"] for r in lm_topk(corpus, q2).collect()}
        # doubling the term doubles BOTH the term sum and |q| normalizer
        assert set(s1) == set(s2)
        for did, s in s1.items():
            assert s2[did] == 2 * s

    def test_higher_tf_ranks_higher_at_equal_length(self, spark, corpus):
        from swarm_spark.ops.retrieval import lm_topk

        # docs 1 and 3 both have dl=4 and contain "join"; doc 1 has
        # spark twice vs doc 3 once
        q = self._queries(spark, [(7, "spark")])
        rows = lm_topk(corpus, q, k=5).collect()
        ranked = [r["id"] for r in rows]
        assert ranked.index(1) < ranked.index(3)

    def test_persisted_path_equals_adhoc(self, spark, corpus, tmp_path):
        from swarm_spark.ops.retrieval import lm_topk, save_bm25

        q = self._queries(spark, [(9, "spark join"), (10, "agg window")])
        adhoc = lm_topk(corpus, q, k=3).collect()
        post = bm25_postings(corpus)
        ix = str(tmp_path / "ix")
        save_bm25(post, bm25_stats(post), bm25_totals(corpus), ix)
        lpost, _, ltot = load_bm25(spark, ix)
        probed = lm_topk(None, q, k=3, postings=lpost, totals=ltot).collect()
        assert sorted(map(tuple, adhoc)) == sorted(map(tuple, probed))

    def test_cf_stats_additive(self, spark, corpus):
        from swarm_spark.ops.retrieval import lm_cf_stats

        even = corpus.where(F.col("doc_id") % 2 == 0)
        odd = corpus.where(F.col("doc_id") % 2 == 1)
        merged = (
            lm_cf_stats(bm25_postings(even))
            .unionByName(lm_cf_stats(bm25_postings(odd)))
            .groupBy("tok")
            .agg(F.sum("cf").alias("cf"))
        )
        full = lm_cf_stats(bm25_postings(corpus))
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, full.collect())
        )

    def test_bad_args(self, spark, corpus):
        from swarm_spark.ops.retrieval import lm_topk

        q = self._queries(spark, [(0, "spark")])
        with pytest.raises(ValueError):
            lm_topk(corpus, q, k=0)
        with pytest.raises(ValueError):
            lm_topk(corpus, q, mu=0.0)
        with pytest.raises(ValueError):
            lm_topk(None, q)


class TestPhraseMatch:
    def _phrases(self, spark, rows):
        return spark.createDataFrame(rows, "phrase_id long, text string")

    def test_contiguous_only_and_hit_counts(self, spark):
        from swarm_spark.ops.retrieval import phrase_match

        docs = _docs(
            spark,
            [
                (0, "a b c d"),        # one "b c"
                (1, "b c b c"),        # two "b c"
                (2, "b x c"),          # b and c but NOT contiguous
                (3, "c b"),            # wrong order
                (4, "b"),              # prefix only
            ],
        )
        got = {
            (r["phrase_id"], r["id"]): r["n_hits"]
            for r in phrase_match(docs, self._phrases(spark, [(7, "b c")])).collect()
        }
        assert got == {(7, 0): 1, (7, 1): 2}

    def test_repeated_token_phrase(self, spark):
        from swarm_spark.ops.retrieval import phrase_match

        docs = _docs(
            spark,
            [
                (0, "a a a"),    # "a a" starts at 0 and 1
                (1, "a b a"),    # never contiguous
            ],
        )
        got = {
            (r["phrase_id"], r["id"]): r["n_hits"]
            for r in phrase_match(docs, self._phrases(spark, [(1, "a a")])).collect()
        }
        assert got == {(1, 0): 2}

    def test_single_token_phrase(self, spark):
        from swarm_spark.ops.retrieval import phrase_match

        docs = _docs(spark, [(0, "x y x"), (1, "y")])
        got = {
            (r["phrase_id"], r["id"]): r["n_hits"]
            for r in phrase_match(docs, self._phrases(spark, [(5, "x")])).collect()
        }
        assert got == {(5, 0): 2}

    def test_persisted_postings_path(self, spark):
        from swarm_spark.ops.retrieval import phrase_match, positional_postings

        docs = _docs(spark, [(0, "p q r"), (1, "q r p")])
        ph = self._phrases(spark, [(3, "q r")])
        adhoc = phrase_match(docs, ph).collect()
        probed = phrase_match(None, ph, postings=positional_postings(docs)).collect()
        assert sorted(map(tuple, adhoc)) == sorted(map(tuple, probed))
        assert {(r["phrase_id"], r["id"]) for r in adhoc} == {(3, 0), (3, 1)}

    def test_needs_docs_or_postings(self, spark):
        from swarm_spark.ops.retrieval import phrase_match

        with pytest.raises(ValueError):
            phrase_match(None, self._phrases(spark, [(0, "x")]))


class TestPhraseMatchGrams:
    def _phrases(self, spark, rows):
        return spark.createDataFrame(rows, "phrase_id long, text string")

    def test_equivalent_to_positional_on_mixed_lengths(self, spark):
        from swarm_spark.ops.retrieval import phrase_match, phrase_match_grams

        docs = _docs(
            spark,
            [
                (0, "a b c d a b"),
                (1, "b c b c"),
                (2, "b x c"),
                (3, "c b a"),
                (4, "b"),
                (5, "a a a a"),
            ],
        )
        ph = self._phrases(
            spark, [(1, "b c"), (2, "a a"), (3, "c"), (4, "a b c"), (5, "z q")]
        )
        pos = sorted(map(tuple, phrase_match(docs, ph).collect()))
        gram = sorted(map(tuple, phrase_match_grams(docs, ph).collect()))
        assert pos == gram and pos

    def test_equivalent_on_testdata(self, spark, sf_dir):
        from swarm_spark.ops.retrieval import phrase_match, phrase_match_grams
        from swarm_spark.ops.text import tokens_col

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        ph = docs.where(F.col("doc_id") % 100 == 0).select(
            F.col("doc_id").alias("phrase_id"),
            F.concat_ws(" ", F.slice(tokens_col("text"), 1, 3)).alias("text"),
        )
        pos = sorted(map(tuple, phrase_match(docs, ph).collect()))
        gram = sorted(map(tuple, phrase_match_grams(docs, ph).collect()))
        assert pos == gram and pos

    def test_empty_phrase_batch(self, spark):
        from swarm_spark.ops.retrieval import phrase_match_grams

        docs = _docs(spark, [(0, "a b")])
        ph = self._phrases(spark, [])
        assert phrase_match_grams(docs, ph).count() == 0


class TestPersistedProbePlans:
    def test_lm_probe_never_reads_text(self, spark, corpus, tmp_path):
        """Same build-once/probe-many contract as the bm25 test: the
        lm scorer over a saved index (docs=None) executes with ONLY
        index-table parquet scans — cf stats fold from the postings,
        totals from the stored stat, corpus text absent from the
        plan."""
        from swarm_spark.ops.retrieval import lm_topk, save_bm25

        post = bm25_postings(corpus)
        save_bm25(post, bm25_stats(post), bm25_totals(corpus), str(tmp_path / "ix"))
        lpost, _, ltot = load_bm25(spark, str(tmp_path / "ix"))
        queries = _docs(spark, [(9, "broadcast window"), (8, "spark agg")]).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        probe = lm_topk(None, queries, k=3, postings=lpost, totals=ltot)
        got = sorted(map(tuple, probe.collect()))
        want = sorted(map(tuple, lm_topk(corpus, queries, k=3).collect()))
        assert got == want
        final = (
            probe._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("+- == Initial Plan ==")[0]
        )
        # postings (+ its cf fold reuses the scan or adds one) + totals
        assert final.count("Scan parquet") <= 3

    def test_phrase_probe_never_reads_text(self, spark, corpus, tmp_path):
        """Phrase probe over a saved positional index: one index scan,
        zero corpus text reads."""
        from swarm_spark.ops.retrieval import (
            load_positional,
            phrase_match,
            positional_postings,
            save_positional,
        )

        save_positional(positional_postings(corpus), str(tmp_path / "pix"))
        lpos = load_positional(spark, str(tmp_path / "pix"))
        phrases = spark.createDataFrame(
            [(1, "spark spark"), (2, "agg agg")], "phrase_id long, text string"
        )
        probe = phrase_match(None, phrases, postings=lpos)
        got = sorted(map(tuple, probe.collect()))
        want = sorted(map(tuple, phrase_match(corpus, phrases).collect()))
        assert got == want and got
        final = (
            probe._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("+- == Initial Plan ==")[0]
        )
        assert final.count("Scan parquet") <= 1


class TestPrunedTopk:
    """MaxScore pruning contract: bm25_pruned / lm_pruned == the
    exhaustive rankers, bit for bit, on corpora crafted to exercise
    every branch (stopword-heavy skew, < k seed docs, ties, persisted
    index, real testdata)."""

    def _skewed(self, spark, n=120):
        # 'the' in EVERY doc (df = n, near-zero idf: the term pruning
        # must discard); each doc also carries a rare-ish topic term
        # and a mid-frequency one, with repetition for tf variety
        rows = []
        for i in range(n):
            topic = f"topic{i % 17}"
            mid = f"mid{i % 5}"
            extra = (" " + topic) * (i % 3)
            rows.append((i, f"the {topic} {mid} the common{extra}"))
        return _docs(spark, rows)

    def _queries(self, spark, rows):
        return _docs(spark, rows).select(
            F.col("doc_id").alias("query_id"), "text"
        )

    def test_bm25_pruned_equals_exhaustive_on_skew(self, spark):
        from swarm_spark.ops.retrieval import bm25_pruned

        docs = self._skewed(spark)
        qs = self._queries(
            spark,
            [
                (0, "the topic3 mid1"),
                (1, "the common the"),
                (2, "topic11 the mid4 common"),
                (3, "nosuchterm anywhere"),
                (4, "topic5"),
            ],
        )
        want = sorted(map(tuple, bm25_topk(docs, qs, k=4).collect()))
        got = sorted(map(tuple, bm25_pruned(docs, qs, k=4, min_prune_queries=None).collect()))
        assert got == want and want

    def test_lm_pruned_equals_exhaustive_on_skew(self, spark):
        from swarm_spark.ops.retrieval import lm_pruned, lm_topk

        docs = self._skewed(spark)
        qs = self._queries(
            spark,
            [
                (0, "the topic3 mid1"),
                (1, "the the common"),  # multiplicity exercises qtf
                (2, "topic11 the mid4 common"),
                (4, "topic5"),
            ],
        )
        want = sorted(map(tuple, lm_topk(docs, qs, k=4, mu=500.0).collect()))
        got = sorted(map(tuple, lm_pruned(docs, qs, k=4, mu=500.0, min_prune_queries=None).collect()))
        assert got == want and want

    def test_mixed_batch_routes_per_query(self, spark):
        # one query has >= k docs behind its seed terms (theta defined,
        # pruned path) while the other is seed-starved (theta absent,
        # exhaustive-slice path) — IN THE SAME BATCH; both must match
        # the exhaustive ranker exactly
        from swarm_spark.ops.retrieval import bm25_pruned, lm_pruned, lm_topk

        # 70 docs: the seed df cap is N//8 = 8 >= df(selective) = 4, so
        # the selective term seeds; "common" (df = 70) never does
        docs = _docs(
            spark,
            [(i, "selective common filler") for i in range(4)]
            + [(10, "unique common filler")]
            + [(i, "common filler noise") for i in range(20, 85)],
        )
        qs = self._queries(
            spark, [(0, "selective common"), (1, "unique common")]
        )
        want = sorted(map(tuple, bm25_topk(docs, qs, k=3).collect()))
        got = sorted(map(tuple, bm25_pruned(docs, qs, k=3, seed_terms=1, min_prune_queries=None).collect()))
        assert got == want
        want_lm = sorted(map(tuple, lm_topk(docs, qs, k=3).collect()))
        got_lm = sorted(
            map(tuple, lm_pruned(docs, qs, k=3, seed_terms=1, min_prune_queries=None).collect())
        )
        assert got_lm == want_lm

    @staticmethod
    def _norm_plan(df):
        import re as _re

        return _re.sub(
            r"#\d+L?", "#x", df._jdf.queryExecution().optimizedPlan().toString()
        )

    def test_small_adhoc_batch_pre_gates_to_exhaustive(self, spark):
        """r11 VERDICT #1: an ad-hoc batch below min_prune_queries
        routes straight to the exhaustive ranker — the returned plan
        IS bm25_topk's/lm_topk's (no seed/theta/verify machinery), and
        values are identical by the pruning theorem either way."""
        from swarm_spark.ops.retrieval import bm25_pruned, lm_pruned, lm_topk

        docs = self._skewed(spark)
        qs = self._queries(
            spark, [(0, "the topic3 mid1"), (1, "topic11 the mid4 common")]
        )
        gated = bm25_pruned(docs, qs, k=4)  # default gate, |Q| = 2
        exh = bm25_topk(docs, qs, k=4)
        assert self._norm_plan(gated) == self._norm_plan(exh)
        assert sorted(map(tuple, gated.collect())) == sorted(
            map(tuple, exh.collect())
        )
        gated_lm = lm_pruned(docs, qs, k=4, mu=500.0)
        exh_lm = lm_topk(docs, qs, k=4, mu=500.0)
        assert self._norm_plan(gated_lm) == self._norm_plan(exh_lm)

    def test_pre_gate_boundary_keeps_pruned_path(self, spark):
        """|Q| == min_prune_queries proceeds to the pruning machinery
        (strictly-below routes), and the result still matches the
        exhaustive ranker bit for bit."""
        from swarm_spark.ops.retrieval import bm25_pruned

        docs = self._skewed(spark)
        qs = self._queries(
            spark, [(0, "the topic3 mid1"), (1, "topic11 the mid4 common")]
        )
        at = bm25_pruned(docs, qs, k=4, min_prune_queries=2)
        assert self._norm_plan(at) != self._norm_plan(bm25_topk(docs, qs, k=4))
        assert sorted(map(tuple, at.collect())) == sorted(
            map(tuple, bm25_topk(docs, qs, k=4).collect())
        )

    @staticmethod
    def _rankers(name):
        """(pruned ranker, its exhaustive twin, kwargs passing the
        persisted df stats the ranker reads — LM folds cf from the
        postings)."""
        from swarm_spark.ops.retrieval import bm25_pruned, lm_pruned, lm_topk

        if name == "bm25_pruned":
            return bm25_pruned, bm25_topk, lambda s: {"stats": s}
        return lm_pruned, lm_topk, lambda s: {}

    @pytest.mark.parametrize("name", ["bm25_pruned", "lm_pruned"])
    def test_fewer_than_k_seed_docs_falls_back_exact(self, spark, name):
        # seed term matches 2 docs < k=5: theta is absent, the query is
        # routed to the exhaustive slice, output must still equal the
        # exhaustive ranker
        pruned, exhaustive, _ = self._rankers(name)
        docs = _docs(
            spark,
            [
                (0, "rare alpha beta"),
                (1, "rare gamma"),
                (2, "alpha beta gamma"),
                (3, "beta beta gamma"),
            ],
        )
        qs = self._queries(spark, [(0, "rare beta")])
        want = sorted(map(tuple, exhaustive(docs, qs, k=5).collect()))
        got = sorted(map(tuple, pruned(docs, qs, k=5, min_prune_queries=None).collect()))
        assert got == want and len(want) == 4

    @pytest.mark.parametrize("name", ["bm25_pruned", "lm_pruned"])
    def test_tied_scores_keep_id_tiebreak(self, spark, name):
        pruned, exhaustive, _ = self._rankers(name)
        # docs 1..4 are identical -> identical scores; ranks must be
        # id-ascending in both rankers
        docs = _docs(spark, [(i, "same words here") for i in range(1, 5)] + [(9, "other text")])
        qs = self._queries(spark, [(0, "same words")])
        want = [tuple(r) for r in exhaustive(docs, qs, k=3).collect()]
        got = [tuple(r) for r in pruned(docs, qs, k=3, min_prune_queries=None).collect()]
        assert got == want
        assert [r[1] for r in got] == [1, 2, 3]

    @pytest.mark.parametrize("name", ["bm25_pruned", "lm_pruned"])
    def test_persisted_index_with_bounds(self, spark, corpus, tmp_path, name):
        from swarm_spark.ops.retrieval import (
            bm25_term_bounds,
            load_bm25_bounds,
            save_bm25_bounds,
        )

        pruned, exhaustive, stats_kw = self._rankers(name)
        path = str(tmp_path / "idx")
        post = bm25_postings(corpus)
        save_bm25(post, bm25_stats(post), bm25_totals(corpus), path)
        save_bm25_bounds(bm25_term_bounds(post), path)
        p, s, t = load_bm25(spark, path)
        bounds = load_bm25_bounds(spark, path)
        qs = self._queries(spark, [(0, "spark join"), (1, "agg window")])
        want = sorted(map(tuple, exhaustive(corpus, qs, k=3).collect()))
        got = sorted(
            map(
                tuple,
                pruned(
                    None, qs, k=3, postings=p, totals=t, bounds=bounds, **stats_kw(s)
                ).collect(),
            )
        )
        assert got == want and want

    @pytest.mark.parametrize("name", ["bm25_pruned", "lm_pruned"])
    def test_partial_bounds_fall_back_to_infinite_ub(self, spark, tmp_path, name):
        """A persisted ``bounds`` table that lacks a query term (a
        partial bounds build) gives that term the 2^52 upper bound:
        always essential, so pruning degrades and results do not. The
        missing terms are the rare topic terms whose docs hold the top
        k, and the batch takes the candidate-verify path (the final
        plan unions the pruned and theta-null slices): a low fallback
        bound would push them into the non-essential prefix and drop
        their docs from the candidates."""
        from swarm_spark.ops.retrieval import (
            bm25_term_bounds,
            load_bm25_bounds,
            save_bm25_bounds,
        )

        pruned, exhaustive, stats_kw = self._rankers(name)
        docs = self._skewed(spark)
        path = str(tmp_path / "idx")
        post = bm25_postings(docs)
        save_bm25(post, bm25_stats(post), bm25_totals(docs), path)
        save_bm25_bounds(
            bm25_term_bounds(post).where(~F.col("tok").isin("topic3", "topic11")),
            path,
        )
        p, s, t = load_bm25(spark, path)
        bounds = load_bm25_bounds(spark, path)
        assert bounds.where(F.col("tok") == "topic3").count() == 0
        qs = self._queries(
            spark,
            [
                (0, "the topic3 mid1"),
                (1, "the common mid1"),
                (2, "topic11 the mid4 common"),
                (4, "topic5"),
            ],
        )
        want = sorted(map(tuple, exhaustive(docs, qs, k=4).collect()))
        probe = pruned(None, qs, k=4, postings=p, totals=t, bounds=bounds, **stats_kw(s))
        assert sorted(map(tuple, probe.collect())) == want and want
        assert "Union" in probe._jdf.queryExecution().executedPlan().toString()

    @pytest.mark.parametrize("name", ["bm25_pruned", "lm_pruned"])
    def test_unfolded_bounds_rows(self, spark, name):
        """A ``bounds`` frame with several rows per term (appended
        waves not folded yet, or the same table unioned twice) is
        folded with its max monoid before pricing: a duplicated term
        row must not double-count that term's weight in the ranking
        joins, and a wave's smaller max_tf must not stand in for the
        true one. The batch takes the candidate-verify path, so both
        the verify and the theta-null slice read the weights."""
        from swarm_spark.ops.retrieval import bm25_term_bounds

        pruned, exhaustive, stats_kw = self._rankers(name)
        docs = self._skewed(spark)
        post = bm25_postings(docs)
        qs = self._queries(
            spark,
            [
                (0, "the topic3 mid1"),
                (1, "the common mid1"),
                (2, "topic11 the mid4 common"),
                (4, "topic5"),
            ],
        )
        waves = bm25_term_bounds(
            bm25_postings(docs.where(F.col("doc_id") % 2 == 0))
        ).unionByName(
            bm25_term_bounds(bm25_postings(docs.where(F.col("doc_id") % 2 == 1)))
        )
        assert waves.count() > waves.select("tok").distinct().count()
        want = sorted(map(tuple, exhaustive(docs, qs, k=4).collect()))
        for bounds in (bm25_term_bounds(post).unionByName(bm25_term_bounds(post)), waves):
            probe = pruned(
                None, qs, k=4, postings=post, totals=bm25_totals(docs), bounds=bounds,
                **stats_kw(bm25_stats(post)),
            )
            assert sorted(map(tuple, probe.collect())) == want and want
            assert "Union" in probe._jdf.queryExecution().executedPlan().toString()

    def test_bounds_are_max_monoid(self, spark, corpus):
        from swarm_spark.ops.retrieval import bm25_term_bounds

        p0 = bm25_postings(corpus.where(F.col("doc_id") % 2 == 0))
        p1 = bm25_postings(corpus.where(F.col("doc_id") % 2 == 1))
        folded = (
            bm25_term_bounds(p0)
            .unionByName(bm25_term_bounds(p1))
            .groupBy("tok")
            .agg(F.max("max_tf").alias("max_tf"))
        )
        full = bm25_term_bounds(bm25_postings(corpus))
        assert sorted(map(tuple, folded.collect())) == sorted(
            map(tuple, full.collect())
        )

    def test_equivalent_on_testdata(self, spark, sf_dir):
        from swarm_spark.ops.retrieval import bm25_pruned, lm_pruned, lm_topk

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        qs = docs.where(F.col("doc_id") % 50 == 0).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        assert sorted(map(tuple, bm25_pruned(docs, qs, k=5, min_prune_queries=None).collect())) == sorted(
            map(tuple, bm25_topk(docs, qs, k=5).collect())
        )
        assert sorted(
            map(tuple, lm_pruned(docs, qs, k=5, mu=2000.0, min_prune_queries=None).collect())
        ) == sorted(map(tuple, lm_topk(docs, qs, k=5, mu=2000.0).collect()))

    @pytest.mark.parametrize("name", ["bm25_pruned", "lm_pruned"])
    def test_pruned_persisted_probe_never_reads_text(
        self, spark, corpus, tmp_path, name
    ):
        """The pruned probe keeps the build-once/probe-many contract:
        with docs=None every pass (seed, theta, essential gate, verify)
        runs off the index tables — the corpus text is absent from the
        executed plan."""
        from swarm_spark.ops.retrieval import (
            bm25_term_bounds,
            load_bm25_bounds,
            save_bm25_bounds,
        )

        pruned, exhaustive, stats_kw = self._rankers(name)
        post = bm25_postings(corpus)
        save_bm25(post, bm25_stats(post), bm25_totals(corpus), str(tmp_path / "ix"))
        save_bm25_bounds(bm25_term_bounds(post), str(tmp_path / "ix"))
        lpost, lstats, ltot = load_bm25(spark, str(tmp_path / "ix"))
        lb = load_bm25_bounds(spark, str(tmp_path / "ix"))
        queries = _docs(spark, [(9, "broadcast window"), (8, "spark agg")]).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        probe = pruned(
            None, queries, k=3, postings=lpost, totals=ltot, bounds=lb,
            **stats_kw(lstats),
        )
        got = sorted(map(tuple, probe.collect()))
        want = sorted(map(tuple, exhaustive(corpus, queries, k=3).collect()))
        assert got == want
        final = (
            probe._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("+- == Initial Plan ==")[0]
        )
        # index tables only; the postings table appears once per pass
        # (seed pairs / seed verify / cand pairs / cand verify) but the
        # corpus text is not in the plan at all
        assert "documents" not in final
        assert final.count("Scan parquet") <= 8

    # Spark jobs on the skew fixture with gate #1 priced in one action
    # (local[4], 4 shuffle partitions): (build, most seen for the
    # collect). Building runs the ladder's serial gate actions, so an
    # added gate action shows up in the build count, which is
    # deterministic; the collect varies by one job between runs under
    # adaptive execution. BM25's ladder is pinned exactly (56 with the
    # in-plan gate #1), LM's may only get cheaper (measured 43; 60
    # before).
    LADDER_JOBS = {"bm25_pruned": (37, 15), "lm_pruned": (43, 20)}

    @pytest.mark.parametrize("name", ["bm25_pruned", "lm_pruned"])
    def test_ladder_jobs_pinned(self, spark, name):
        pruned, _, _ = self._rankers(name)
        docs = self._skewed(spark)
        qs = self._queries(
            spark,
            [
                (0, "the topic3 mid1"),
                (1, "the common the"),
                (2, "topic11 the mid4 common"),
                (3, "nosuchterm anywhere"),
                (4, "topic5"),
            ],
        )
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group = f"ladder-jobs-{name}"
        spark.catalog.clearCache()
        sc.setJobGroup(group, group)
        try:
            df = pruned(docs, qs, k=4, min_prune_queries=None)
            build = len(tracker.getJobIdsForGroup(group))
            df.collect()
            collect = len(tracker.getJobIdsForGroup(group)) - build
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            spark.catalog.clearCache()
        pinned_build, pinned_collect = self.LADDER_JOBS[name]
        if name == "bm25_pruned":
            assert build == pinned_build
        else:
            assert build <= pinned_build
        assert collect <= pinned_collect

    def test_bad_args(self, spark, corpus):
        from swarm_spark.ops.retrieval import bm25_pruned, lm_pruned

        qs = self._queries(spark, [(0, "spark")])
        with pytest.raises(ValueError):
            bm25_pruned(corpus, qs, k=0)
        with pytest.raises(ValueError):
            lm_pruned(corpus, qs, mu=0.0)
        with pytest.raises(ValueError):
            bm25_pruned(None, qs)
        with pytest.raises(ValueError):
            lm_pruned(None, qs)


class TestGateOnePricing:
    """Gate #1 of the MaxScore ladder is priced by ONE action (the
    batch's query-term statistics with the corpus totals riding along)
    and decided on the driver. Each case hard-codes the route and the
    seed terms the former in-plan gate (a seed window plus a one-row
    aggregate) chose on the same fixture, so a change to the seed
    filter or order shows up here even though results stay equal by
    the pruning theorem."""

    MIXED_DOCS = (
        [(i, "selective common filler") for i in range(4)]
        + [(10, "unique common filler")]
        + [(i, "common filler noise") for i in range(20, 85)]
    )
    # fixture -> (queries, k, seed_terms, seeds gate #1 keeps, final
    # plan is the union path); seeds None: gate #1 routes exhaustive
    CASES = {
        "mixed": (
            [(0, "selective common"), (1, "unique common")],
            3, 1, [(0, "selective"), (1, "unique")], True,
        ),
        # query 2 has two seedable terms and one seed slot: the higher
        # upper bound (the rarer "unique") must win
        "mixed_seed_order": (
            [(0, "selective common"), (1, "unique common"), (2, "selective unique common")],
            3, 1, [(0, "selective"), (1, "unique"), (2, "unique")], True,
        ),
        # ops_mix's shape: kw units over a 30-word vocabulary, every
        # word in most docs; the seed verify fan-out fails the gate
        "saturated_kw": (None, 5, 8, None, False),
    }

    def _fixture(self, spark, case):
        import random

        from swarm_spark.ops_queries import _kw_corpus, _kw_queries

        rows, k, seed_terms, _, _ = self.CASES[case]
        if rows is not None:
            docs = _docs(spark, self.MIXED_DOCS)
            qs = _docs(spark, rows).select(F.col("doc_id").alias("query_id"), "text")
            return docs, qs, k, seed_terms
        rng = random.Random(7)
        words = [f"w{i:02d}" for i in range(30)]
        raw = _docs(
            spark,
            [
                (i, " ".join(rng.choice(words) for _ in range(rng.randint(10, 20))))
                for i in range(40)
            ],
        )
        return _kw_corpus(raw), _kw_queries(raw), k, seed_terms

    @pytest.mark.parametrize("entry", ["adhoc", "persisted"])
    @pytest.mark.parametrize("name", ["bm25_pruned", "lm_pruned"])
    @pytest.mark.parametrize("case", sorted(CASES))
    def test_one_action_same_route(self, spark, tmp_path, monkeypatch, case, name, entry):
        from swarm_spark.ops import retrieval
        from swarm_spark.ops.retrieval import bm25_term_bounds, load_bm25_bounds, save_bm25_bounds

        pruned, exhaustive, stats_kw = TestPrunedTopk._rankers(name)
        docs, qs, k, seed_terms = self._fixture(spark, case)
        kwargs = {"k": k, "seed_terms": seed_terms}
        if entry == "adhoc":
            args, kwargs["min_prune_queries"] = (docs, qs), None
        else:
            path = str(tmp_path / "idx")
            post = bm25_postings(docs)
            save_bm25(post, bm25_stats(post), bm25_totals(docs), path)
            save_bm25_bounds(bm25_term_bounds(post), path)
            p, s, t = load_bm25(spark, path)
            args = (None, qs)
            kwargs.update(postings=p, totals=t, bounds=load_bm25_bounds(spark, path), **stats_kw(s))

        # every DataFrame action, outermost calls only (head -> take ->
        # collect is one action), between markers left by the probe and
        # by the route decision
        events, depth, out = [], [0], {}

        def spy_action(fn):
            def wrapped(*a, **kw):
                depth[0] += 1
                try:
                    return fn(*a, **kw)
                finally:
                    depth[0] -= 1
                    if depth[0] == 0:
                        events.append("action")
            return wrapped

        def mark(fn, label):
            def wrapped(*a, **kw):
                out[label] = fn(*a, **kw)
                events.append(label)
                return out[label]
            return wrapped

        frame_cls = type(qs)  # the concrete (classic) DataFrame class
        for action in ("collect", "count", "head", "take", "first", "toLocalIterator", "toPandas"):
            monkeypatch.setattr(frame_cls, action, spy_action(getattr(frame_cls, action)))
        monkeypatch.setattr(retrieval, "_probe_index", mark(retrieval._probe_index, "probed"))
        monkeypatch.setattr(retrieval, "_price_batch", mark(retrieval._price_batch, "routed"))
        spark.catalog.clearCache()
        try:
            df = pruned(*args, **kwargs)
            monkeypatch.undo()
            between = events[events.index("probed") + 1 : events.index("routed")]
            assert between == ["action"]
            seed_term = out["routed"][-1]
            _, _, _, want_seeds, want_union = self.CASES[case]
            if want_seeds is None:
                assert seed_term is None
            else:
                assert sorted(map(tuple, seed_term.collect())) == want_seeds
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert ("Union" in plan) == want_union
            got = sorted(map(tuple, df.collect()))
            assert got == sorted(map(tuple, exhaustive(docs, qs, k=k).collect())) and got
        finally:
            spark.catalog.clearCache()


class TestPhraseMatchRare:
    """Rare-term-first gating: same results as the unguarded positional
    intersection on every shape, with candidates anchored on the
    minimum-frequency term only."""

    def _phrases(self, spark, rows):
        return spark.createDataFrame(rows, "phrase_id long, text string")

    def test_equivalent_to_positional_on_mixed_lengths(self, spark):
        from swarm_spark.ops.retrieval import phrase_match, phrase_match_rare

        docs = _docs(
            spark,
            [
                (0, "a b c d a b c"),
                (1, "b c d"),
                (2, "a a a a"),
                (3, "c d a b"),
                (4, "x y z b c"),
            ],
        )
        ph = self._phrases(
            spark,
            [(0, "a b c"), (1, "b c"), (2, "a"), (3, "c d a b"), (4, "a a")],
        )
        pos = sorted(map(tuple, phrase_match(docs, ph).collect()))
        rare = sorted(map(tuple, phrase_match_rare(docs, ph).collect()))
        assert pos == rare and pos

    def test_absent_term_gates_to_empty(self, spark):
        from swarm_spark.ops.retrieval import phrase_match_rare

        docs = _docs(spark, [(0, "a b c"), (1, "b c d")])
        ph = self._phrases(spark, [(0, "b nosuchtoken"), (1, "b c")])
        out = {(r["phrase_id"], r["id"]) for r in phrase_match_rare(docs, ph).collect()}
        assert out == {(1, 0), (1, 1)}

    def test_repeated_token_phrase(self, spark):
        from swarm_spark.ops.retrieval import phrase_match, phrase_match_rare

        docs = _docs(spark, [(0, "go go go stop go go"), (1, "go stop go")])
        ph = self._phrases(spark, [(0, "go go")])
        pos = sorted(map(tuple, phrase_match(docs, ph).collect()))
        rare = sorted(map(tuple, phrase_match_rare(docs, ph).collect()))
        assert pos == rare
        # doc 0 = go go go stop go go: starts 0, 1, 4; doc 1 has none
        assert dict(((r[0], r[1]), r[2]) for r in rare) == {(0, 0): 3}

    def test_persisted_postings_path(self, spark):
        from swarm_spark.ops.retrieval import (
            phrase_match_rare,
            positional_postings,
        )

        docs = _docs(spark, [(0, "a b c"), (1, "b c a b")])
        post = positional_postings(docs)
        ph = self._phrases(spark, [(0, "a b")])
        out = sorted(
            map(tuple, phrase_match_rare(None, ph, postings=post).collect())
        )
        assert out == [(0, 0, 1), (0, 1, 1)]
        with pytest.raises(ValueError):
            phrase_match_rare(None, ph)

    def test_equivalent_on_testdata(self, spark, sf_dir):
        from swarm_spark.ops.retrieval import phrase_match, phrase_match_rare
        from swarm_spark.ops.text import tokens_col

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        ph = docs.where(F.col("doc_id") % 100 == 0).select(
            F.col("doc_id").alias("phrase_id"),
            F.concat_ws(" ", F.slice(tokens_col("text"), 1, 3)).alias("text"),
        )
        pos = sorted(map(tuple, phrase_match(docs, ph).collect()))
        rare = sorted(map(tuple, phrase_match_rare(docs, ph).collect()))
        assert pos == rare and pos


class TestPrunedSeedTerms:
    def test_rare_tail_multi_term_seed_still_exact(self, spark):
        # every query term is df=1 (rare tail): a 1-term seed yields
        # < k docs (theta absent -> exhaustive fallback), the default
        # 8-term seed reaches theta — both must equal the exhaustive
        # ranker exactly
        from swarm_spark.ops.retrieval import bm25_pruned

        docs = _docs(
            spark,
            [(i, f"u{i} common filler words here") for i in range(30)],
        )
        qs = _docs(
            spark,
            [(0, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 common")],
        ).select(F.col("doc_id").alias("query_id"), "text")
        want = sorted(map(tuple, bm25_topk(docs, qs, k=5).collect()))
        for s in (1, 8, 64):
            got = sorted(
                map(tuple, bm25_pruned(docs, qs, k=5, seed_terms=s, min_prune_queries=None).collect())
            )
            assert got == want, s

    def test_validation(self, spark):
        from swarm_spark.ops.retrieval import bm25_pruned, lm_pruned

        docs = _docs(spark, [(0, "a b")])
        qs = _docs(spark, [(0, "a")]).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        with pytest.raises(ValueError):
            bm25_pruned(docs, qs, seed_terms=0)
        with pytest.raises(ValueError):
            lm_pruned(docs, qs, seed_terms=0)


class TestTokBucketedIndex:
    """Hash-bucketed index layout: probes partition-prune the postings
    scan to their query terms' buckets — same results, fewer files."""

    def test_phrase_probe_prunes_partitions(self, spark, tmp_path):
        from swarm_spark.ops.retrieval import (
            load_positional,
            phrase_match,
            positional_postings,
            prune_tok_buckets,
            save_positional,
        )

        docs = _docs(
            spark,
            [(i, f"w{i % 40} common t{i} end") for i in range(120)],
        )
        path = str(tmp_path / "posix")
        save_positional(positional_postings(docs), path, tok_buckets=16)
        lpos = load_positional(spark, path)
        ph = spark.createDataFrame(
            [(0, "w1 common"), (1, "t7 end")], "phrase_id long, text string"
        )
        pterms = ph.select(F.explode(F.split("text", " +")).alias("tok"))
        pruned = prune_tok_buckets(lpos, pterms, 16)
        got = phrase_match(None, ph, postings=pruned)
        rows = sorted(map(tuple, got.collect()))
        want = sorted(map(tuple, phrase_match(docs, ph).collect()))
        assert rows == want and rows
        final = (
            got._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("+- == Initial Plan ==")[0]
        )
        # the IN-filter must reach the scan as a PARTITION filter
        assert "PartitionFilters" in final and "tbkt" in final

    def test_prune_is_identity_when_batch_covers_all_buckets(self, spark, tmp_path):
        from swarm_spark.ops.retrieval import prune_tok_buckets

        post = spark.createDataFrame(
            [(1, f"t{i}", 0) for i in range(64)], "id long, tok string, pos long"
        ).withColumn("tbkt", F.lit(0))
        terms = spark.createDataFrame(
            [(f"t{i}",) for i in range(64)], "tok string"
        )
        assert prune_tok_buckets(post, terms, 2) is post

    def test_bm25_probe_over_pruned_bucketed_postings(self, spark, corpus, tmp_path):
        from swarm_spark.ops.retrieval import prune_tok_buckets

        path = str(tmp_path / "ix")
        post = bm25_postings(corpus)
        save_bm25(post, bm25_stats(post), bm25_totals(corpus), path, tok_buckets=8)
        lpost, lstats, ltot = load_bm25(spark, path)
        queries = _docs(spark, [(9, "broadcast window")]).select(
            F.col("doc_id").alias("query_id"), "text"
        )
        qterms = queries.select(F.explode(F.split("text", " +")).alias("tok"))
        pruned = prune_tok_buckets(lpost, qterms, 8)
        got = sorted(
            map(
                tuple,
                bm25_topk(
                    None, queries, k=3, postings=pruned, stats=lstats, totals=ltot
                ).collect(),
            )
        )
        want = sorted(map(tuple, bm25_topk(corpus, queries, k=3).collect()))
        assert got == want and got

    def test_validation(self, spark):
        from swarm_spark.ops.retrieval import tok_bucket_col

        with pytest.raises(ValueError):
            tok_bucket_col("tok", 0)
