"""CLI entry points mirroring the reference's command surface
(/root/reference/pkg/controller/cmd/{ingest,serve,enqueue,schema,
migrate}.go): ``ingest`` / ``enqueue`` / ``schema`` / ``migrate`` /
``serve`` over the local Spark engine.

Rules come from ``--rules`` as either a directory of ``.rego`` policies
(ported swarm deployments) or a YAML/JSON declarative config; both
compile to the same Catalyst rule layer.

Usage examples::

    python -m swarm_spark ingest 'data/*.ndjson' --rules policy/ --warehouse wh/
    python -m swarm_spark ingest 'data/*.log' --rules rules.yaml --dry-run -o out/
    python -m swarm_spark enqueue 'data/*.ndjson' -o queue/
    python -m swarm_spark schema 'data/*.ndjson' --rules policy/ --warehouse wh/
    python -m swarm_spark migrate --warehouse wh/ --src ds.t1 --dst ds.t2
    python -m swarm_spark serve --rules policy/ --warehouse wh/ --addr 127.0.0.1:8080
    python -m swarm_spark curate docs.parquet -o curated/ --langs en --cap-per-lang 100000
    python -m swarm_spark ingest 'fixed/*.ndjson' --rules policy/ --warehouse wh/ --merge
    python -m swarm_spark expire --warehouse wh/ --table ds.t --partition day --before 2024-01-01
    python -m swarm_spark stats --warehouse wh/ --rows
    python -m swarm_spark query corpus_gate_report --sf-dir /root/testdata/sf0.01
"""

from __future__ import annotations

import argparse
import glob as _glob
import json
import os
import sys


def _load_rules(path: str):
    from .rules import load_rego_dir, load_rules_file

    if os.path.isdir(path):
        return load_rego_dir(path)
    return load_rules_file(path)


def _objects(patterns: list[str]):
    from .pipeline import list_local_objects

    objs = []
    for pat in patterns:
        objs.extend(list_local_objects(pat))
    if not objs:
        raise SystemExit(f"no objects match {patterns}")
    return objs


def _spark(args):
    from .session import get_spark

    master = f"local[{args.cpus}]" if args.cpus else None
    return get_spark(app_name="swarm-spark-cli", master=master)


def _pipeline(spark, args, sink=None):
    from .pipeline import IngestPipeline
    from .sinks import DumpSink, TableSink

    events, schemas = _load_rules(args.rules)
    if sink is None:
        if getattr(args, "dry_run", False):
            sink = DumpSink(spark, args.output)
        else:
            sink = TableSink(spark, args.warehouse)
    return IngestPipeline(
        spark, events, schemas, sink,
        json_mode=args.json_mode,
        merge=getattr(args, "merge", False),
    )


def cmd_ingest(args) -> int:
    pipe = _pipeline(_spark(args), args)
    stats = pipe.load_objects(_objects(args.objects))
    print(
        json.dumps(
            {
                "ingest_id": stats.ingest_id,
                "objects": stats.objects,
                "rows": stats.total_rows,
                "tables": {f"{d[0]}.{d[1]}": n for d, n in stats.rows_by_dest.items()},
            }
        )
    )
    return 0


def cmd_enqueue(args) -> int:
    from .pipeline import FileDumpPublisher, enqueue

    pub = FileDumpPublisher(args.output)
    res = enqueue(_objects(args.objects), pub, count_limit=args.count_limit)
    print(
        json.dumps(
            {"messages": len(res.messages), "objects": res.objects, "batches": res.batches}
        )
    )
    return 0


def cmd_schema(args) -> int:
    from .pipeline import apply_schema

    pipe = _pipeline(_spark(args), args)
    touched = apply_schema(pipe, _objects(args.objects))
    print(json.dumps({"tables": [f"{d.dataset}.{d.table}" for d in touched]}))
    return 0


def cmd_migrate(args) -> int:
    from .model import TableDest
    from .pipeline import migrate
    from .sinks import TableSink

    spark = _spark(args)
    sink = TableSink(spark, args.warehouse)

    def dest(s: str) -> TableDest:
        ds, _, tb = s.partition(".")
        if not tb:
            raise SystemExit(f"destination must be dataset.table, got {s!r}")
        return TableDest(ds, tb)

    n = migrate(spark, sink, dest(args.src), dest(args.dst), query=args.query)
    print(json.dumps({"rows": n}))
    return 0


def cmd_compact(args) -> int:
    from .model import TableDest
    from .sinks import TableSink

    sink = TableSink(_spark(args), args.warehouse)
    ds, _, tb = args.table.partition(".")
    if not tb:
        raise SystemExit(f"table must be dataset.table, got {args.table!r}")
    stats = sink.compact(
        TableDest(ds, tb, args.partition),
        target_file_bytes=args.target_mb * 1024 * 1024,
        partitions=args.partitions.split(",") if args.partitions else None,
    )
    print(json.dumps(stats))
    return 0


def cmd_expire(args) -> int:
    from .model import TableDest
    from .sinks import TableSink

    sink = TableSink(_spark(args), args.warehouse)
    ds, _, tb = args.table.partition(".")
    if not tb:
        raise SystemExit(f"table must be dataset.table, got {args.table!r}")
    stats = sink.expire_partitions(
        TableDest(ds, tb, args.partition), before=args.before
    )
    print(json.dumps(stats))
    return 0


def cmd_snapshot(args) -> int:
    """Pin/read/list/drop named table snapshots (reproducible-corpus
    versions; see TableSink.snapshot)."""
    from .model import TableDest
    from .sinks import TableSink

    sink = TableSink(_spark(args), args.warehouse)
    ds, _, tb = args.table.partition(".")
    if not tb:
        raise SystemExit(f"table must be dataset.table, got {args.table!r}")
    dest = TableDest(ds, tb, args.partition)
    if args.action == "create":
        print(json.dumps(sink.snapshot(dest, args.name)))
    elif args.action == "list":
        print(json.dumps(sink.list_snapshots(dest)))
    elif args.action == "drop":
        sink.drop_snapshot(dest, args.name)
        print(json.dumps({"dropped": args.name}))
    elif args.action == "count":
        print(
            json.dumps(
                {"name": args.name, "rows": sink.read_snapshot(dest, args.name).count()}
            )
        )
    return 0


def cmd_vacuum(args) -> int:
    from .model import TableDest
    from .sinks import TableSink

    sink = TableSink(_spark(args), args.warehouse)
    ds, _, tb = args.table.partition(".")
    if not tb:
        raise SystemExit(f"table must be dataset.table, got {args.table!r}")
    print(json.dumps(sink.vacuum(TableDest(ds, tb, args.partition))))
    return 0


def cmd_layout(args) -> int:
    """Rewrite a parquet table Z-ordered on two integer columns and
    report the per-file locality the layout bought: files, rows, and
    the average per-file span of each column (what parquet min/max
    stats — and therefore either-column predicate pruning — see).
    ``--mode bucket`` instead writes a hash-bucketed catalog table on
    ``--key`` so every later by-key join against a same-bucketed table
    runs exchange-free (ops/layout.py::write_bucketed).
    Reference has no layout tier; this serves the repo's own tables."""
    from pyspark.sql import functions as F

    from .ops.layout import zorder_repartition

    spark = _spark(args)
    df = spark.read.parquet(args.src)
    if args.mode == "bucket":
        from .ops.layout import write_bucketed

        write_bucketed(df, args.table, args.dst, args.buckets, key=args.key)
        back = spark.table(args.table)
        rep = {
            "table": args.table,
            "buckets": args.buckets,
            "key": args.key,
            "rows": back.count(),
            "files": back.select(F.input_file_name()).distinct().count(),
        }
        print(json.dumps(rep))
        return 0
    if not args.x or not args.y:
        raise SystemExit("--mode zorder requires --x and --y")
    out = zorder_repartition(
        df, args.x, args.y, bits=args.bits, n_files=args.files
    )
    out.write.mode("overwrite").parquet(args.dst)
    rep = (
        spark.read.parquet(args.dst)
        .withColumn("__f", F.input_file_name())
        .groupBy("__f")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            (F.max(args.x) - F.min(args.x)).alias("xs"),
            (F.max(args.y) - F.min(args.y)).alias("ys"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("files"),
            F.sum("rows").cast("long").alias("rows"),
            F.round(F.avg("xs"), 2).alias("x_span_avg"),
            F.round(F.avg("ys"), 2).alias("y_span_avg"),
        )
        .collect()[0]
    )
    print(json.dumps(rep.asDict()))
    return 0


def cmd_index(args) -> int:
    """Build/probe a persisted search index (build-once/probe-many).
    ``--kind ivf`` (default) stores float assignments + centroids
    (ops/ivf.py); ``--kind ivfpq`` stores the compressed form — (id,
    cell, m codes) + centroids + codebooks (ops/pq.py) — and probes by
    cell-gated ADC without ever reading the float vectors; ``--kind
    bm25`` stores the lexical inverted index — postings + df stats +
    additive totals (ops/retrieval.py) — and probes without ever
    re-tokenizing the corpus (``--scorer lm`` ranks the same stored
    index by Dirichlet query likelihood); ``--kind positional`` stores
    (id, tok, pos) and probes exact phrases."""
    from pyspark.sql import functions as F

    spark = _spark(args)
    if args.id_col is None:
        args.id_col = "doc_id" if args.kind in ("bm25", "positional") else "vec_id"
    if args.kind == "positional":
        from .ops.retrieval import (
            load_positional,
            phrase_match,
            positional_postings,
            save_positional,
        )

        if args.action == "build":
            docs = spark.read.parquet(args.input)
            post = positional_postings(docs, args.text_col, args.id_col)
            save_positional(post, args.index, tok_buckets=args.tok_buckets or None)
            print(
                json.dumps(
                    {
                        "index": args.index,
                        "kind": "positional",
                        "positions": load_positional(spark, args.index).count(),
                    }
                )
            )
        else:  # probe: exact-phrase match, corpus never re-tokenized
            qsrc = spark.read.parquet(args.queries or args.input)
            phrases = qsrc.select(
                F.col(args.id_col).alias("phrase_id"),
                F.col(args.text_col).alias("text"),
            )
            post = load_positional(spark, args.index)
            if args.tok_buckets and "tbkt" in post.columns:
                # partition-prune the scan to the batch's term buckets
                from .ops.retrieval import prune_tok_buckets
                from .ops.text import tokens_col

                post = prune_tok_buckets(
                    post,
                    phrases.select(F.explode(tokens_col("text")).alias("tok")),
                    args.tok_buckets,
                )
            out = phrase_match(None, phrases, postings=post)
            for r in (out.limit(args.limit) if args.limit else out).collect():
                print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
        return 0
    if args.kind == "bm25":
        import os

        from .ops.retrieval import (
            bm25_postings,
            bm25_stats,
            bm25_term_bounds,
            bm25_topk,
            bm25_totals,
            load_bm25,
            save_bm25,
            save_bm25_bounds,
        )

        if args.action == "build":
            docs = spark.read.parquet(args.input)
            post = bm25_postings(docs, args.text_col, args.id_col)
            save_bm25(
                post, bm25_stats(post), bm25_totals(docs, args.text_col, args.id_col),
                args.index, tok_buckets=args.tok_buckets or None,
            )
            # the (tok, max_tf) MaxScore bounds statistic lands beside
            # the index by default: its presence routes probes to the
            # pruned rankers (the serving-regime default — measured
            # 3.7x faster at the 20k-query batch, self-disabling where
            # the vocabulary has no rarity spread)
            save_bm25_bounds(bm25_term_bounds(post), args.index)
            trow = load_bm25(spark, args.index)[2].head()
            print(
                json.dumps(
                    {
                        "index": args.index,
                        "kind": "bm25",
                        "docs": int(trow["n_docs"]),
                        "tokens": int(trow["tot_tokens"]),
                        "bounds": True,
                    }
                )
            )
        else:  # probe: index tables only — the raw corpus is never read
            post, stats, totals = load_bm25(spark, args.index)
            qsrc = spark.read.parquet(args.queries or args.input)
            queries = qsrc.select(
                F.col(args.id_col).alias("query_id"),
                F.col(args.text_col).alias("text"),
            )
            if args.tok_buckets and "tbkt" in post.columns:
                from .ops.retrieval import prune_tok_buckets
                from .ops.text import tokens_col

                post = prune_tok_buckets(
                    post,
                    queries.select(F.explode(tokens_col("text")).alias("tok")),
                    args.tok_buckets,
                )
            # pruned rankers are the default whenever the bounds table
            # exists (identical output — the oracle theorem; the gates
            # fall back to the exhaustive plan where pruning can't cut)
            bounds = None
            if not args.exhaustive and os.path.exists(
                os.path.join(args.index, "bounds")
            ):
                from .ops.retrieval import load_bm25_bounds

                bounds = load_bm25_bounds(spark, args.index)
            if args.scorer == "lm":
                if bounds is not None:
                    from .ops.retrieval import lm_pruned

                    out = lm_pruned(
                        None, queries, k=args.k, mu=args.mu,
                        postings=post, totals=totals, bounds=bounds,
                    )
                else:
                    from .ops.retrieval import lm_topk

                    # same stored index; cf folds from the postings
                    out = lm_topk(
                        None, queries, k=args.k, mu=args.mu,
                        postings=post, totals=totals,
                    )
            elif bounds is not None:
                from .ops.retrieval import bm25_pruned

                out = bm25_pruned(
                    None, queries, k=args.k,
                    postings=post, stats=stats, totals=totals, bounds=bounds,
                )
            else:
                out = bm25_topk(
                    None, queries, k=args.k,
                    postings=post, stats=stats, totals=totals,
                )
            for r in (out.limit(args.limit) if args.limit else out).collect():
                print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
        return 0

    from .ops.ivf import ann_topk_ivf_probe, build_ivf, load_ivf, save_ivf

    if args.action == "build":
        emb = spark.read.parquet(args.input)
        if args.kind == "ivfpq":
            from .ops.pq import pq_encode, pq_train, save_ivfpq

            a, c = build_ivf(
                emb, vec_col=args.vec_col, id_col=args.id_col,
                n_cells=args.cells, iters=args.iters,
            )
            books = pq_train(
                emb, m=args.m, k=args.pq_k, iters=args.pq_iters,
                vec_col=args.vec_col, id_col=args.id_col,
            )
            codes = pq_encode(
                emb, books, m=args.m, vec_col=args.vec_col, id_col=args.id_col
            ).join(a, "id")
            save_ivfpq(codes, c, books, args.index)
            print(
                json.dumps(
                    {
                        "index": args.index,
                        "kind": "ivfpq",
                        "vectors": codes.count(),
                        "cells": args.cells,
                        "m": args.m,
                        "pq_k": args.pq_k,
                    }
                )
            )
        else:
            a, c = build_ivf(
                emb,
                vec_col=args.vec_col,
                id_col=args.id_col,
                n_cells=args.cells,
                iters=args.iters,
            )
            save_ivf(a, c, args.index)
            print(
                json.dumps(
                    {"index": args.index, "vectors": a.count(), "cells": args.cells}
                )
            )
    else:  # probe
        emb = spark.read.parquet(args.input)
        queries = spark.read.parquet(args.queries) if args.queries else emb
        if args.kind == "ivfpq":
            from .ops.pq import load_ivfpq, pq_probe_cells

            codes, cent, books = load_ivfpq(spark, args.index)
            m = int(codes.select(F.size("codes")).head()[0])
            out = pq_probe_cells(
                codes, cent, queries, books,
                k=args.k, nprobe=args.nprobe, m=m,
                vec_col=args.vec_col, id_col=args.id_col,
            )
        else:
            a, c = load_ivf(spark, args.index)
            out = ann_topk_ivf_probe(
                emb,
                queries,
                a,
                c,
                k=args.k,
                vec_col=args.vec_col,
                id_col=args.id_col,
                nprobe=args.nprobe,
            )
        for r in (out.limit(args.limit) if args.limit else out).collect():
            print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
    return 0


def cmd_search(args) -> int:
    """Hybrid production search over PERSISTED indexes: BM25 lexical
    top-k from the stored postings/stats/totals, semantic top-k from
    the stored PQ codes (ADC shortlist -> exact cosine rerank — the
    only stage that touches raw floats, and only for shortlist
    survivors), fused by reciprocal-rank fusion; ``--diversify-k``
    finishes with an MMR pass over the fused list. The serving shape
    the retrieval tier implies: corpus text and float vectors stay
    cold; probes read index tables plus the rerank survivors. When the
    bm25 index carries a ``bounds/`` table the lexical list comes from
    the MaxScore-pruned ranker (identical output — the oracle theorem;
    candidates follow the selective posting lists; ``--exhaustive``
    forces the plain plan)."""
    import os

    from pyspark.sql import functions as F

    from .ops.pq import load_ivfpq, pq_topk_rerank
    from .ops.retrieval import bm25_topk, load_bm25, rrf_fuse

    spark = _spark(args)
    q = spark.read.parquet(args.queries)
    post, stats, totals = load_bm25(spark, args.bm25)
    if not args.exhaustive and os.path.exists(os.path.join(args.bm25, "bounds")):
        from .ops.retrieval import bm25_pruned, load_bm25_bounds

        lex = bm25_pruned(
            None,
            q.select("query_id", "text"),
            k=args.lex_k,
            postings=post,
            stats=stats,
            totals=totals,
            bounds=load_bm25_bounds(spark, args.bm25),
        )
    else:
        lex = bm25_topk(
            None,
            q.select("query_id", "text"),
            k=args.lex_k,
            postings=post,
            stats=stats,
            totals=totals,
        )
    codes, _cent, books = load_ivfpq(spark, args.ivfpq)
    m = int(codes.select(F.size("codes")).head()[0])
    vectors = spark.read.parquet(args.vectors)
    qv = q.select(F.col("query_id").alias(args.id_col), args.vec_col)
    sem = pq_topk_rerank(
        vectors, codes.select("id", "codes"), qv, books,
        k=args.sem_k, shortlist=args.shortlist, m=m,
        vec_col=args.vec_col, id_col=args.id_col,
    )
    out = rrf_fuse([lex, sem], k=args.k, rrf_k=args.rrf_k)
    if args.diversify_k:
        from .ops.similarity import mmr_select

        # MMR over the fused list: rrf_micro is the relevance (already
        # integral — any monotone score works), pairwise sims from the
        # cold vector store, only for the k fused survivors per query
        out = mmr_select(
            vectors, out, k=args.diversify_k,
            lam_permille=args.diversify_lambda,
            vec_col=args.vec_col, id_col=args.id_col, rel_col="rrf_micro",
        )
    for r in (out.limit(args.limit) if args.limit else out).collect():
        print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
    return 0


def cmd_query(args) -> int:
    """Run any registry query against a testdata scale-factor dir and
    print rows as JSON lines — the whole analytics surface from the
    shell (``query --list`` enumerates)."""
    from .queries import all_queries

    reg = all_queries()
    if args.list or not args.name:
        print(json.dumps(sorted(reg)))
        return 0
    if args.name not in reg:
        raise SystemExit(f"unknown query {args.name!r}; try --list")
    spark = _spark(args)
    df = reg[args.name][0](spark, args.sf_dir)
    shown = df.limit(args.limit) if args.limit else df
    rows = shown.collect()
    for r in rows:
        print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
    if args.metrics:
        # executed-plan forensics: did pruning/pushdown actually hold?
        from .metrics import scan_summary

        print(json.dumps({"metrics": scan_summary(shown)}))
    if getattr(args, "explain", False):
        # the AQE FINAL plan (post-execution), not the initial guess —
        # what actually ran, for eyeballing exchanges/scans/codegen
        final = (
            shown._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("+- == Initial Plan ==")[0]
        )
        print(json.dumps({"executed_plan": final}))
    return 0


def cmd_stats(args) -> int:
    from .model import TableDest
    from .sinks import TableSink

    sink = TableSink(_spark(args), args.warehouse)
    if args.table:
        ds, _, tb = args.table.partition(".")
        if not tb:
            raise SystemExit(f"table must be dataset.table, got {args.table!r}")
        dests = [TableDest(ds, tb, args.partition)]
    else:
        dests = sink.list_tables()
    print(
        json.dumps(
            [sink.table_stats(d, with_rows=args.rows) for d in dests]
        )
    )
    return 0


def cmd_quality(args) -> int:
    """Train / apply the hashed Naive-Bayes corpus-quality model
    (``ops/text.py::nb_train_quality``/``nb_score_quality``): train
    labels the known-good slice by a column value and writes the
    self-describing model parquet (≤ buckets+3 rows); score reads any
    model file and writes or summarizes per-doc scores. ``lm-train`` /
    ``lm-score`` are the CCNet-shape perplexity filter over the same
    flags (``ops/lm.py``): train counts the Stupid-Backoff bigram
    tables on the known-good slice; score ranks any corpus by average
    per-token micro-nats under that model."""
    from pyspark.sql import functions as F

    from .ops.text import nb_score_quality, nb_train_quality

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    if args.action == "lm-train":
        from .ops.lm import lm_train, save_lm

        if getattr(args, "by", ""):
            # grouped training (CCNet production shape): ONE corpus
            # scan trains every group's reference LM simultaneously;
            # the saved (grp, ctx, tok, cnt) tables feed
            # `curate --ccnet --ccnet-lm-model` and fold across waves
            # with lm_merge_by (counts are a SUM monoid)
            from .ops.lm import lm_train_by

            model = lm_train_by(
                docs, group_col=args.by, text_col=args.text_col,
                order=args.order,
            )
            save_lm(model, args.model)
            by_grp = {
                r["grp"]: r["n"]
                for r in model.groupBy("grp")
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
                .collect()
            }
            print(
                json.dumps(
                    {
                        "model": args.model,
                        "order": args.order,
                        "by": args.by,
                        "groups": len(by_grp),
                        "rows_per_group": by_grp,
                    }
                )
            )
            return 0
        ref = docs.where(F.col(args.label_col) == args.label_value)
        model = lm_train(ref, text_col=args.text_col, order=args.order)
        save_lm(model, args.model)
        counts = model.agg(
            F.coalesce(
                F.sum(F.when(F.col("ctx").isNull(), F.lit(1))), F.lit(0)
            ).alias("unigrams"),
            F.coalesce(
                F.sum(F.when(F.col("ctx").isNotNull(), F.lit(1))), F.lit(0)
            ).alias("ngrams"),
        ).head()
        print(
            json.dumps(
                {
                    "model": args.model,
                    "order": args.order,
                    "unigrams": int(counts["unigrams"]),
                    "ngrams": int(counts["ngrams"]),
                    "ref_docs": ref.count(),
                }
            )
        )
        return 0
    if args.action == "lm-eval":
        # perplexity-gate operating curve: one JSON line per threshold
        from .ops.lm import lm_eval, load_lm

        model = load_lm(spark, args.model)
        thresholds = [int(t) for t in str(args.thresholds).split(",") if t != ""]
        out = lm_eval(
            docs,
            model,
            F.col(args.label_col) == args.label_value,
            thresholds=thresholds,
            text_col=args.text_col,
            id_col=args.id_col,
            order=args.order,
        )
        for r in out.collect():
            print(json.dumps(r.asDict()))
        return 0
    if args.action == "lm-bucket":
        # CCNet head/middle/tail terciles per group under the model
        from .ops.lm import lm_buckets, load_lm

        model = load_lm(spark, args.model)
        out = lm_buckets(
            docs, model, text_col=args.text_col, id_col=args.id_col,
            group_col=args.label_col, order=args.order,
        )
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
        counts = {
            r["bucket"]: r["n"]
            for r in out.groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        }
        print(json.dumps({"buckets": counts, "output": args.output or None}))
        return 0
    if args.action == "lm-score":
        from .ops.lm import lm_perplexity, load_lm

        model = load_lm(spark, args.model)
        out = lm_perplexity(
            docs, model, text_col=args.text_col, id_col=args.id_col,
            order=args.order,
        )
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
        agg = out.agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.round(F.avg("avg_micro")).cast("long").alias("mean_avg_micro"),
        ).head()
        print(
            json.dumps(
                {
                    "docs": agg["docs"],
                    "mean_avg_micro": agg["mean_avg_micro"],
                    "output": args.output or None,
                }
            )
        )
        return 0
    if args.action == "train":
        label = F.col(args.label_col) == args.label_value
        model = nb_train_quality(
            docs,
            label,
            text_col=args.text_col,
            id_col=args.id_col,
            num_buckets=args.buckets,
        )
        model.write.mode("overwrite").parquet(args.model)
        print(
            json.dumps(
                {
                    "model": args.model,
                    "buckets": args.buckets,
                    "docs": docs.count(),
                    "good_docs": docs.where(label).count(),
                }
            )
        )
    elif args.action == "eval":
        # labeled-holdout operating curve: one JSON line per threshold
        from .ops.text import nb_eval_quality

        model = spark.read.parquet(args.model)
        thresholds = [int(t) for t in str(args.thresholds).split(",") if t != ""]
        out = nb_eval_quality(
            docs,
            model,
            F.col(args.label_col) == args.label_value,
            thresholds=thresholds,
            text_col=args.text_col,
            id_col=args.id_col,
        )
        for r in out.collect():
            print(json.dumps(r.asDict()))
    else:  # score
        model = spark.read.parquet(args.model)
        out = nb_score_quality(
            docs, model, text_col=args.text_col, id_col=args.id_col
        )
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
        agg = out.agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.coalesce(F.sum(F.col("pred_good").cast("long")), F.lit(0))
            .cast("long")
            .alias("pred_good"),
        ).head()
        print(
            json.dumps(
                {
                    "docs": agg["docs"],
                    "pred_good": agg["pred_good"],
                    "output": args.output or None,
                }
            )
        )
    return 0


def cmd_tokenizer(args) -> int:
    """Train / apply the deterministic BPE subword tokenizer
    (``ops/bpe.py``): ``train`` learns an n-merge table from the corpus
    word histogram and writes it as (rank, a, b) parquet — the whole
    model; ``encode`` loads a merge table and writes per-document
    (n_ws, n_bpe) counts (or the full subword rendering with
    ``--segments``), printing corpus totals either way."""
    from pyspark.sql import functions as F

    from .ops.bpe import (
        bpe_encode_words,
        bpe_segment_text,
        bpe_token_counts,
        bpe_train,
        bpe_word_histogram,
        load_bpe,
        save_bpe,
    )
    from .ops.text import tokens_col

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    if args.action == "train":
        merges, seg = bpe_train(
            bpe_word_histogram(docs, args.text_col),
            n_merges=args.merges,
            min_count=args.min_count,
        )
        save_bpe(spark, merges, args.model)
        print(
            json.dumps(
                {
                    "model": args.model,
                    "merges": len(merges),
                    "vocab_words": seg.count(),
                }
            )
        )
        return 0
    # encode
    merges = load_bpe(spark, args.model)
    if args.segments:
        words = (
            docs.select(F.explode(tokens_col(args.text_col)).alias("word"))
            .where(F.length("word") > 0)
            .distinct()
        )
        out = bpe_segment_text(
            docs, bpe_encode_words(words, merges), args.text_col, args.id_col
        )
    else:
        out = bpe_token_counts(docs, merges, args.text_col, args.id_col)
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
    agg = out.agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.coalesce(F.sum("n_ws"), F.lit(0)).cast("long").alias("ws_tokens"),
        F.coalesce(F.sum("n_bpe"), F.lit(0)).cast("long").alias("bpe_tokens"),
    ).head()
    print(
        json.dumps(
            {
                "docs": agg["docs"],
                "ws_tokens": agg["ws_tokens"],
                "bpe_tokens": agg["bpe_tokens"],
                "merges": len(merges),
                "output": args.output or None,
            }
        )
    )
    return 0


_LEDGER_MAX_ID_FILE = "_max_doc_id.json"


def _read_ledger_max_id(led_dir: str):
    """High-water doc id folded into an ExactSubstr ledger, or None on
    ledgers written before the marker existed (then the ascending-id
    contract is unverifiable and the wave proceeds as before). The
    marker is stored RAW (int or string, whatever the id column
    yields): the ascending contract is ORDER-based, not int-based, so
    a string-id corpus compares with the column's native ordering
    (ADVICE r12: `int(...)` here crashed string-id ledger waves)."""
    p = os.path.join(led_dir, _LEDGER_MAX_ID_FILE)
    try:
        with open(p) as f:
            v = json.load(f).get("max_doc_id")
    except (OSError, ValueError, TypeError):
        return None
    return v if isinstance(v, (int, str)) else None


def _write_ledger_max_id(led_dir: str, max_id) -> None:
    if max_id is None:
        return
    if not isinstance(max_id, (int, str)):
        # non-JSON-representable id types are rejected up front in
        # cmd_curate (fail fast with a clear error, before any work);
        # reaching here with one is a programming error
        raise TypeError(f"ledger id marker must be int or str, got {type(max_id)}")
    with open(os.path.join(led_dir, _LEDGER_MAX_ID_FILE), "w") as f:
        json.dump({"max_doc_id": max_id}, f)


def cmd_curate(args) -> int:
    """Training-corpus curation pass over a documents parquet: exact
    dedup -> optional MinHash near-dup removal -> quality gate ->
    language filter -> optional per-language cap -> deterministic split
    assignment, written partitioned by split. The exact-dedup spine is
    the same one-scan/one-exchange composition as the ``corpus_curate``
    registry query, exposed as a command."""
    from pyspark.sql import functions as F

    from .ops.dedup import exact_dedup_text
    from .ops.sampling import split_column, stratified_cap
    from .ops.text import language_pred_expr, quality_expr

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    if getattr(args, "expect", ""):
        # fail-fast pre-gate: ONE scan up front buys the contract that
        # a curation run never spends its budget on a corpus that
        # violates its declared expectations. A NULL `passed`
        # (saturated unique_approx sketch) counts as a failure —
        # inconclusive must never read as green.
        from .ops.validate import expectations_report

        with open(args.expect, encoding="utf-8") as fh:
            checks = [tuple(c) for c in json.load(fh)]
        report = [r.asDict() for r in expectations_report(docs, checks).collect()]
        failed = [r for r in report if r["passed"] is not True]
        if failed:
            print(
                json.dumps(
                    {
                        "error": "expectations failed",
                        "failed": len(failed),
                        "expectations": report,
                    }
                )
            )
            return 2
    n_in = docs.count()
    ccnet_unmodeled: dict[str, int] | None = None
    kept = exact_dedup_text(docs, text_col=args.text_col, id_col=args.id_col)
    if getattr(args, "gopher", False):
        # hard rule pre-gate FIRST: a zero-shuffle projection that
        # shrinks everything the near-dup / span stages pay for
        from .ops.curation import GOPHER_STOPWORDS, gopher_gate

        stops = (
            tuple(args.gopher_stopwords.split(","))
            if getattr(args, "gopher_stopwords", "")
            else GOPHER_STOPWORDS
        )
        kept = gopher_gate(
            kept,
            text_col=args.text_col,
            id_col=args.id_col,
            min_words=args.gopher_min_words,
            stopwords=stops,
        )
    if getattr(args, "gopher_repetition", False):
        from .ops.curation import gopher_repetition_gate

        kept = gopher_repetition_gate(
            kept, text_col=args.text_col, id_col=args.id_col
        )
    pending_ledger_swap = None
    if getattr(args, "exactsubstr", 0):
        # corpus-duplicated span removal (keep-first); docs whose
        # every token sat in a cut span drop out entirely. With
        # --exactsubstr-ledger the batch is a WAVE: spans already in
        # the persisted ledger cut without rescanning earlier waves,
        # and this wave's window stats fold back in (min/sum monoid)
        from .ops.curation import (
            exactsubstr_cut,
            exactsubstr_cut_wave,
            exactsubstr_merge,
            exactsubstr_window_stats,
            load_exactsubstr_ledger,
            save_exactsubstr_ledger,
        )

        # the span cut consumes `kept` three times; stage whatever
        # gate chain preceded it once instead of re-running it per
        # consumer (parquet staging is the durable production form;
        # localCheckpoint is its in-session equivalent)
        kept = kept.localCheckpoint(eager=True)
        led_dir = getattr(args, "exactsubstr_ledger", "")
        xs_kw = {
            "min_len": args.exactsubstr,
            "text_col": args.text_col,
            "id_col": args.id_col,
        }
        if led_dir and not os.path.exists(led_dir):
            # crash recovery: a die between "rename aside" and "rename
            # .next in" leaves only the .old copy — restore it rather
            # than silently treating history as empty
            _old = led_dir.rstrip("/") + ".old"
            if os.path.exists(_old):
                os.rename(_old, led_dir)
        wave_max_id = None
        if led_dir and os.path.exists(led_dir):
            stored = load_exactsubstr_ledger(spark, led_dir)
            # the incremental cut is keep-first only when ids ascend
            # across waves (exactsubstr_cut_wave contract); a wave
            # dipping below the ledger's high-water id would silently
            # produce non-keep-first cuts
            led_max = _read_ledger_max_id(led_dir)
            bounds = kept.agg(
                F.min(args.id_col).alias("lo"), F.max(args.id_col).alias("hi")
            ).first()
            # the marker is stored raw and compared in the id column's
            # native ordering (int OR string ids — ADVICE r12); ids
            # whose Python value is neither fail fast with a clear
            # error instead of crashing the wave at ledger-write time
            if bounds["hi"] is not None and not isinstance(bounds["hi"], (int, str)):
                print(
                    json.dumps(
                        {
                            "error": "exactsubstr ledger needs int or string doc ids",
                            "id_col": args.id_col,
                            "id_type": type(bounds["hi"]).__name__,
                        }
                    )
                )
                return 2
            if (
                led_max is not None
                and bounds["lo"] is not None
                and type(led_max) is not type(bounds["lo"])
                and not (
                    isinstance(led_max, int) and isinstance(bounds["lo"], int)
                )
            ):
                print(
                    json.dumps(
                        {
                            "error": "exactsubstr ledger id type mismatch",
                            "ledger_max_id": led_max,
                            "ledger_id_type": type(led_max).__name__,
                            "wave_id_type": type(bounds["lo"]).__name__,
                        }
                    )
                )
                return 2
            # an empty wave must carry the high-water mark forward,
            # not erase it
            wave_max_id = bounds["hi"] if bounds["hi"] is not None else led_max
            if led_max is not None and bounds["lo"] is not None and bounds["lo"] <= led_max:
                print(
                    json.dumps(
                        {
                            "error": "exactsubstr ledger requires ascending doc ids",
                            "ledger_max_id": led_max,
                            "wave_min_id": bounds["lo"],
                        }
                    )
                )
                return 2
            cut = exactsubstr_cut_wave(kept, stored, **xs_kw)
            folded = exactsubstr_merge(
                stored, exactsubstr_window_stats(kept, **xs_kw)
            )
        else:
            cut = exactsubstr_cut(kept, **xs_kw)
            folded = exactsubstr_window_stats(kept, **xs_kw) if led_dir else None
            if led_dir:
                wave_max_id = kept.agg(F.max(args.id_col)).first()[0]
                if wave_max_id is not None and not isinstance(
                    wave_max_id, (int, str)
                ):
                    print(
                        json.dumps(
                            {
                                "error": "exactsubstr ledger needs int or string doc ids",
                                "id_col": args.id_col,
                                "id_type": type(wave_max_id).__name__,
                            }
                        )
                    )
                    return 2
        if led_dir:
            # fold into a sibling dir now (reads the CURRENT ledger),
            # but swap it in only after the curated output lands —
            # the lazy cut plan still reads the old dir until then
            tmp_led = led_dir.rstrip("/") + ".next"
            save_exactsubstr_ledger(folded, tmp_led)
            _write_ledger_max_id(tmp_led, wave_max_id)
            pending_ledger_swap = (tmp_led, led_dir)
        # docs with nothing removed keep their ORIGINAL text — the
        # rebuilt stream is space-joined canonical form, and a doc the
        # cut never touched must not lose its newlines/indentation
        # (ADVICE r11); only touched docs take text_clean
        kept = kept.join(
            cut.where(F.col("n_removed") < F.col("n_tokens")).select(
                args.id_col, "n_removed", "text_clean"
            ),
            args.id_col,
        ).withColumn(
            args.text_col,
            F.when(F.col("n_removed") == 0, F.col(args.text_col)).otherwise(
                F.col("text_clean")
            ),
        ).drop("n_removed", "text_clean")
    if args.near_dup:
        # MinHash/LSH candidates -> connected components -> keep the
        # lowest-id member per cluster; DF-pruned so a boilerplate-heavy
        # corpus can't go quadratic in the band join.
        from .ops.components import keep_one_per_cluster
        from .ops.dedup import minhash_lsh_pairs

        lsh_kw = {}
        if getattr(args, "lsh_perms", 0):
            # S-curve-tuned (bands, rows) at the requested threshold —
            # the permutation budget buys precision exactly where the
            # threshold sits instead of a fixed 12x4 grid
            from .ops.dedup import lsh_tune

            b, r = lsh_tune(args.near_dup, args.lsh_perms)
            lsh_kw = {"num_perm": b * r, "bands": b}
        pairs = minhash_lsh_pairs(
            kept, text_col=args.text_col, id_col=args.id_col,
            max_df=args.max_df, **lsh_kw,
        ).where(F.col("est_jaccard") >= args.near_dup)
        if getattr(args, "keep_best", False):
            # quality-aware survivor policy: the cluster keeps its
            # highest-heuristic-quality member, not its lowest id
            from .ops.components import keep_best_per_cluster

            kept = keep_best_per_cluster(
                kept.withColumn(
                    "__kb_q",
                    F.round(quality_expr(args.text_col) * 1000).cast("long"),
                ),
                pairs,
                "__kb_q",
                id_col=args.id_col,
            ).drop("__kb_q")
        else:
            kept = keep_one_per_cluster(kept, pairs, id_col=args.id_col)
    if args.semantic:
        # model-free semantic pass: hashed-trick vectors -> k-means
        # cells -> within-cell cosine -> keep one per semantic group
        from .ops.semdedup import semantic_dup_pairs
        from .ops.text import hashed_embedding
        from .ops.components import keep_one_per_cluster

        emb = hashed_embedding(kept, dim=64, text_col=args.text_col, id_col=args.id_col)
        pairs = semantic_dup_pairs(
            emb,
            vec_col="vec",
            id_col="doc_id",
            n_cells=args.semantic_cells,
            iters=3,
            threshold=args.semantic,
        )
        kept = keep_one_per_cluster(kept, pairs, args.id_col, "id_a", "id_b")
    kept = (
        kept.withColumn("quality", quality_expr(args.text_col))
        .withColumn("pred_lang", language_pred_expr(args.text_col))
        .where(F.col("quality") >= args.min_quality)
    )
    if args.langs:
        kept = kept.where(F.col("pred_lang").isin(args.langs.split(",")))
    if getattr(args, "ccnet", False):
        # the CCNet composition (Wenzek et al. 2020): per-PREDICTED-
        # language reference LMs trained as ONE grouped count frame,
        # one grouped scoring pass, per-language perplexity terciles,
        # tail discarded — the corpus_curate_ccnet registry row's
        # stages, applied to whatever survived the gates above
        from .ops.lm import lm_buckets_scored, lm_perplexity_by, lm_train_by, load_lm

        # the ccnet stages consume `kept` several times (grouped
        # train, scoring joins, the final left_semi) on top of the
        # gate chain above — stage the gated lineage ONCE instead of
        # re-executing the whole chain per consumer (ADVICE r12; the
        # same multi-consumer staging as the exactsubstr block)
        kept = kept.localCheckpoint(eager=True)
        order = getattr(args, "ccnet_order", 3)
        ccnet_bypass_langs: list[str] = []
        if getattr(args, "ccnet_lm_model", ""):
            # production shape: per-language reference LMs trained
            # once (`quality lm-train --by`) and probed per wave —
            # the grouped count tables are the persisted model
            model = load_lm(spark, args.ccnet_lm_model)
            # ADVICE r13 (low): a --ccnet-order above the TRAINED
            # order can never match a higher-order row — every token
            # silently pays extra backoff and the terciles shift.
            # The trained order is structural: 1 + the max ctx arity
            # of any stored k-gram row (vocab-sized aggregation).
            trained_order = 1 + (
                model.agg(
                    F.max(
                        F.when(
                            F.col("ctx").isNotNull(),
                            F.size(F.split(F.col("ctx"), " ")),
                        )
                    ).alias("m")
                ).collect()[0]["m"]
                or 0
            )
            if order > trained_order:
                raise SystemExit(
                    f"--ccnet-order {order} exceeds the persisted "
                    f"model's trained order {trained_order} "
                    f"({args.ccnet_lm_model}): higher-order lookups "
                    "would never match and every token would pay "
                    "silent extra backoff; retrain with --order "
                    f">= {order} or pass --ccnet-order "
                    f"{trained_order}"
                )
            # ADVICE r13 (medium): a wave language ABSENT from the
            # stored model has no unigram mass — the scorer emits no
            # rows for it, so the tercile cut would silently drop the
            # language wholesale. Those docs cannot be RANKED without
            # a model, so route them around the tercile cut (kept,
            # counted in the JSON summary + a stderr warning) instead
            # of losing them. Both frames are metadata-sized: one row
            # per language.
            model_langs = {
                r["grp"]
                for r in model.select("grp").distinct().collect()
            }
            wave_langs = {
                r["pred_lang"]
                for r in kept.select("pred_lang").distinct().collect()
            }
            ccnet_bypass_langs = sorted(wave_langs - model_langs)
            if ccnet_bypass_langs:
                print(
                    "ccnet: languages absent from the persisted model "
                    f"bypass the tercile cut: {ccnet_bypass_langs}",
                    file=sys.stderr,
                )
        else:
            model = lm_train_by(
                kept, group_col="pred_lang", text_col=args.text_col, order=order
            )
        # the scorer joins the model frame 2*order-1 times; without
        # staging, each join re-runs the grouped-count aggregation
        # (and, on the in-plan branch, the whole gate chain under it)
        model = model.localCheckpoint(eager=True)
        scored = lm_perplexity_by(
            kept, model, group_col="pred_lang", text_col=args.text_col,
            id_col=args.id_col, order=order,
        )
        keep_ids = (
            lm_buckets_scored(scored, group_col="pred_lang", id_col=args.id_col)
            .where(F.col("bucket") != "tail")
            .select(args.id_col)
        )
        modeled_kept = kept.join(keep_ids, args.id_col, "left_semi")
        if ccnet_bypass_langs:
            # unrankable languages pass through whole; summary carries
            # their doc count so the bypass is never silent
            bypass = kept.where(F.col("pred_lang").isin(ccnet_bypass_langs))
            ccnet_unmodeled = {
                r["pred_lang"]: r["n"]
                for r in bypass.groupBy("pred_lang")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            kept = modeled_kept.unionByName(bypass)
        else:
            kept = modeled_kept
    if getattr(args, "nb_model", ""):
        # learned quality gate: score against a persisted NB model
        # (broadcast model join) and keep docs above the micro-nat
        # threshold — the trained counterpart of the heuristic
        # quality_expr gate above
        from .ops.text import nb_score_quality

        model = spark.read.parquet(args.nb_model)
        good = (
            nb_score_quality(kept, model, text_col=args.text_col, id_col=args.id_col)
            .where(F.col("score_micro") > args.nb_min_score)
            .select(F.col("doc_id").alias(args.id_col))
        )
        kept = kept.join(good, args.id_col)
    if args.lm_model:
        # perplexity gate: keep docs whose average per-token cost under
        # the persisted reference LM stays at/below the micro-nat cap —
        # the CCNet head cut, applied after the heuristic/NB gates
        from .ops.lm import lm_gate, load_lm

        kept = lm_gate(
            kept,
            load_lm(spark, args.lm_model),
            args.lm_max_avg,
            text_col=args.text_col,
            id_col=args.id_col,
        )
    if args.quality_quantile:
        # ADAPTIVE per-language gate: keep docs at/above their language's
        # q-th quality quantile (histogram form — the threshold adapts
        # per group instead of one global cutoff over-pruning
        # low-scoring languages)
        from .ops.text import filter_by_group_quantile

        kept = filter_by_group_quantile(
            kept.withColumn(
                "q_perm", F.round(F.col("quality") * 1000).cast("long")
            ),
            "pred_lang",
            "q_perm",
            q_permille=args.quality_quantile,
        ).drop("q_perm")
    if args.cap_per_lang:
        kept = stratified_cap(
            kept, "pred_lang", cap=args.cap_per_lang, key=args.id_col
        ).drop("rk")
    if getattr(args, "temperature_budget", 0):
        # alpha = 1/2 temperature mix: damp the head language, lift the
        # tail — exactly quota docs per language in deterministic hash
        # order (quota proportional to isqrt of the language's count)
        from .ops.sampling import sample_temperature

        kept = sample_temperature(
            kept, "pred_lang", args.id_col, budget=args.temperature_budget
        ).drop("rk")
    if args.token_budget_per_lang:
        # token-denominated mix control: hash-order prefix per language
        # until the budget (what a training mix actually spends)
        from .ops.sampling import token_budget_sample

        kept = token_budget_sample(
            kept,
            "pred_lang",
            budget=args.token_budget_per_lang,
            key=args.id_col,
            text_col=args.text_col,
        ).drop("n_tok", "cum_tok")
    kept = kept.withColumn("split", split_column(args.id_col))
    if args.shards:
        # token-balanced shard layout for the training export
        from .ops.packing import shard_assignments

        sh = shard_assignments(
            kept, n_shards=args.shards, text_col=args.text_col, id_col=args.id_col
        ).select(F.col("doc_id").alias(args.id_col), "shard")
        kept = kept.join(sh, args.id_col)
    if args.chunk_size:
        # terminal chunking stage: emit fixed-stride token windows
        # (RAG/pretraining layout) instead of whole documents
        from .ops.text import chunk_text

        kept = chunk_text(
            kept.select(args.id_col, args.text_col, "split"),
            size=args.chunk_size,
            overlap=args.chunk_overlap,
            text_col=args.text_col,
            id_col=args.id_col,
        ).join(
            kept.select(
                F.col(args.id_col).alias("doc_id"),
                "split",
                *(["shard"] if args.shards else []),
            ),
            "doc_id",
        )
    part_cols = ["split"] + (["shard"] if args.shards else [])
    kept.write.mode("overwrite").partitionBy(*part_cols).parquet(args.output)
    if pending_ledger_swap is not None:
        import shutil as _sh

        # crash-safe swap (ADVICE r11): rename the live ledger ASIDE
        # first, then rename .next into place, then drop the .old copy
        # — at no instant is the ledger dir missing without a .old
        # sibling holding the full previous state (recovered on the
        # next run's load path)
        _tmp, _dst = pending_ledger_swap
        _old = _dst.rstrip("/") + ".old"
        if os.path.exists(_old):
            _sh.rmtree(_old)
        if os.path.exists(_dst):
            os.rename(_dst, _old)
        os.rename(_tmp, _dst)
        if os.path.exists(_old):
            _sh.rmtree(_old)
    from pyspark.errors import AnalysisException as _AnalysisException

    try:
        out = spark.read.parquet(args.output)
        by_split = {
            r["split"]: r["n"]
            for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    except _AnalysisException:
        # every doc was filtered (or the wave was empty): the write
        # leaves no schema to read back — report zero, not a crash
        by_split = {}
    summary = {
        "docs_in": n_in,
        "docs_kept": sum(by_split.values()),
        "splits": by_split,
        "output": args.output,
    }
    if ccnet_unmodeled is not None:
        # languages that bypassed the ccnet tercile cut because the
        # persisted model holds no rows for them (ADVICE r13)
        summary["ccnet_unmodeled"] = ccnet_unmodeled
    print(json.dumps(summary))
    return 0


def cmd_report(args) -> int:
    """Pre-curation corpus diagnostics over a documents parquet — the
    numbers a pipeline reads BEFORE choosing dedup/filter/packing
    thresholds: boilerplate n-grams (what to strip), per-group
    token-count quantiles (context-length/packing capacity), length
    histogram, vocabulary head. One JSON object to stdout; each section
    is opt-in so a 100-TB run pays only for what it asks."""
    from pyspark.sql import functions as F

    from .ops.text import (
        group_value_quantiles,
        length_histogram,
        tokens_col,
        top_ngrams,
        vocab_stats,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    out: dict = {}
    if args.ngrams:
        out["top_ngrams"] = [
            r.asDict()
            for r in top_ngrams(
                docs,
                n=args.ngrams,
                top_k=args.top_k,
                min_count=args.min_count,
                text_col=args.text_col,
                id_col=args.id_col,
            ).collect()
        ]
    if args.quantiles_by:
        q = group_value_quantiles(
            docs.select(
                F.col(args.quantiles_by),
                F.size(tokens_col(args.text_col)).cast("long").alias("n_tok"),
            ),
            args.quantiles_by,
            "n_tok",
        )
        out["tok_quantiles"] = [r.asDict() for r in q.collect()]
    if args.length_hist:
        out["length_hist"] = [
            r.asDict()
            for r in length_histogram(
                docs, bucket_tokens=args.length_hist, text_col=args.text_col
            ).collect()
        ]
    if args.vocab:
        out["vocab"] = [
            r.asDict()
            for r in vocab_stats(docs, top_k=args.vocab, text_col=args.text_col).collect()
        ]
    if getattr(args, "distinct", ""):
        # HLL head-counts: the sizing numbers dedup/bloom/vocab plans
        # need, in one register build per column (<= 4096-row shuffle
        # each) instead of an exact distinct's key-space shuffle
        from .ops.sketch import hll_estimate, hll_registers

        out["distinct"] = {}
        for col in args.distinct.split(","):
            (row,) = hll_estimate(hll_registers(docs, col)).collect()
            out["distinct"][col] = {
                "estimate": row["estimate"],
                "nonzero_regs": row["nonzero_regs"],
                "m_regs": row["m_regs"],
            }
    if getattr(args, "heavy_hitters", 0):
        from .ops.sketch import cms_heavy_hitters

        toks = docs.select(F.explode(tokens_col(args.text_col)).alias("tok"))
        out["heavy_hitters"] = {
            r["tok"]: r["est"]
            for r in cms_heavy_hitters(
                toks, "tok", threshold=args.heavy_hitters
            ).collect()
        }
    if getattr(args, "gopher", False):
        # per-rule failure counts: which Gopher rules would bite this
        # corpus, BEFORE committing to the gate (one zero-shuffle pass
        # + a flag-sum aggregate)
        from .ops.curation import GOPHER_STOPWORDS, gopher_rules

        stops = (
            tuple(args.gopher_stopwords.split(","))
            if getattr(args, "gopher_stopwords", "")
            else GOPHER_STOPWORDS
        )
        flags = gopher_rules(
            docs, text_col=args.text_col, id_col=args.id_col, stopwords=stops
        )
        fcols = [c for c in flags.columns if c.startswith("flag_")] + ["keep"]
        row = flags.agg(
            F.count(F.lit(1)).alias("docs"),
            *[
                F.sum(F.when(F.col(c), 0).otherwise(1)).alias(f"fail_{c}")
                for c in fcols
            ],
        ).collect()[0]
        out["gopher"] = row.asDict()
    if args.expectations:
        # JSON file: a list of checks, e.g.
        # [["not_null", "text"], ["unique", "doc_id"],
        #  ["in_range", "n_chars", 1, 100000]]
        from .ops.validate import expectations_report

        with open(args.expectations, encoding="utf-8") as fh:
            checks = [tuple(c) for c in json.load(fh)]
        out["expectations"] = [
            r.asDict() for r in expectations_report(docs, checks).collect()
        ]
    if not out:
        raise SystemExit(
            "nothing to report: pass --ngrams/--quantiles-by/--length-hist/"
            "--vocab/--distinct/--heavy-hitters/--expectations/--gopher"
        )
    print(json.dumps(out))
    return 0


def cmd_serve(args) -> int:
    from .streaming import AuthPolicy, NotificationProcessor, ServeFrontend, StateStore

    pipe = _pipeline(_spark(args), args)
    auth = None
    if args.auth:
        with open(args.auth, encoding="utf-8") as f:
            import yaml

            auth = AuthPolicy.from_config(yaml.safe_load(f))
    proc = NotificationProcessor(pipe, StateStore(args.states))
    host, _, port = args.addr.partition(":")
    fe = ServeFrontend(proc, host=host or "127.0.0.1", port=int(port or 8080), auth=auth)
    host, port = fe.address
    print(f"listening on http://{host}:{port}", file=sys.stderr)
    try:
        fe.httpd.serve_forever()
    except KeyboardInterrupt:
        fe.stop()
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="swarm-spark")
    p.add_argument("--cpus", help="local cores (default: $SPARK_GRAFT_CPUS, else the host's)")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp, objects=True):
        if objects:
            sp.add_argument("objects", nargs="+", help="object path globs")
        sp.add_argument("--rules", required=True, help=".rego dir or YAML/JSON config")
        sp.add_argument("--warehouse", default="warehouse")
        sp.add_argument("--json-mode", default="lines", choices=["lines", "whole"])

    sp = sub.add_parser("ingest", aliases=["i"], help="route, transform and load objects")
    common(sp)
    sp.add_argument("--dry-run", "-d", action="store_true", help="dump instead of load")
    sp.add_argument("--output", "-o", default=".", help="dry-run output directory")
    sp.add_argument(
        "--merge", action="store_true",
        help="id-upsert re-ingest: colliding ids replace their rows",
    )
    sp.set_defaults(fn=cmd_ingest)

    sp = sub.add_parser("enqueue", aliases=["e"], help="batch objects into swarm messages")
    sp.add_argument("objects", nargs="+")
    sp.add_argument("--output", "-o", required=True, help="NDJSON message dump file")
    sp.add_argument("--count-limit", type=int, default=128)
    sp.set_defaults(fn=cmd_enqueue)

    sp = sub.add_parser("schema", aliases=["s"], help="evolve schemas without inserting")
    common(sp)
    sp.set_defaults(fn=cmd_schema)

    sp = sub.add_parser("migrate", aliases=["m"], help="SQL migrate between tables")
    sp.add_argument("--warehouse", default="warehouse")
    sp.add_argument("--src", required=True, help="dataset.table")
    sp.add_argument("--dst", required=True, help="dataset.table")
    sp.add_argument("--query", default=None, help="SQL over view 'src'")
    sp.set_defaults(fn=cmd_migrate)

    sp = sub.add_parser("compact", aliases=["c"], help="compact a table's small files")
    sp.add_argument("--warehouse", default="warehouse")
    sp.add_argument("--table", required=True, help="dataset.table")
    sp.add_argument("--partition", default="", help="time unit of the table ('' if none)")
    sp.add_argument("--target-mb", type=int, default=512)
    sp.add_argument(
        "--partitions", default="",
        help="comma list of partition values to compact ('' = whole table)",
    )
    sp.set_defaults(fn=cmd_compact)

    sp = sub.add_parser(
        "layout",
        help="rewrite a parquet table Z-ordered on two columns",
    )
    sp.add_argument("--src", required=True, help="input parquet path")
    sp.add_argument("--dst", required=True, help="output parquet path")
    sp.add_argument("--x", help="first integer column (pre-bucketized; zorder mode)")
    sp.add_argument("--y", help="second integer column (pre-bucketized; zorder mode)")
    sp.add_argument("--bits", type=int, default=16, help="bits per column")
    sp.add_argument("--files", type=int, default=200, help="output file count")
    sp.add_argument(
        "--mode", choices=["zorder", "bucket"], default="zorder",
        help="zorder = Morton rewrite; bucket = hash-bucketed catalog table",
    )
    sp.add_argument("--key", default="doc_id", help="bucket key (--mode bucket)")
    sp.add_argument("--buckets", type=int, default=32, help="bucket count")
    sp.add_argument(
        "--table", default="swarm_bucketed",
        help="catalog table name for the bucketed write (--mode bucket)",
    )
    sp.set_defaults(fn=cmd_layout)

    sp = sub.add_parser("index", help="build/probe a persisted search index")
    sp.add_argument("action", choices=["build", "probe"])
    sp.add_argument("--input", required=True, help="embeddings/documents parquet path")
    sp.add_argument("--index", required=True, help="index directory")
    sp.add_argument("--queries", default="", help="query parquet (probe)")
    sp.add_argument("--vec-col", default="embedding")
    sp.add_argument(
        "--id-col", default=None,
        help="id column (default: vec_id, or doc_id for --kind bm25)",
    )
    sp.add_argument("--text-col", default="text", help="text column (bm25)")
    sp.add_argument("--cells", type=int, default=64)
    sp.add_argument("--iters", type=int, default=4)
    sp.add_argument("--k", type=int, default=5)
    sp.add_argument("--nprobe", type=int, default=4)
    sp.add_argument("--limit", type=int, default=0)
    sp.add_argument(
        "--tok-buckets", type=int, default=0,
        help="bm25/positional: hash-partition the postings files by a "
        "token bucket at build; pass the SAME value at probe to "
        "partition-prune the scan to the batch's term buckets",
    )
    sp.add_argument(
        "--kind", choices=["ivf", "ivfpq", "bm25", "positional"], default="ivf",
        help="ivfpq stores (cell, m codes) per vector and probes by "
        "cell-gated ADC without reading the float vectors; bm25 stores "
        "postings + df stats + totals and probes without re-tokenizing; "
        "positional stores (id, tok, pos) and probes exact phrases",
    )
    sp.add_argument(
        "--scorer", choices=["bm25", "lm"], default="bm25",
        help="probe ranking function for --kind bm25: Robertson BM25 "
        "or Dirichlet-smoothed query likelihood (same stored index)",
    )
    sp.add_argument(
        "--mu", type=float, default=2000.0, help="Dirichlet prior (--scorer lm)"
    )
    sp.add_argument(
        "--exhaustive", action="store_true",
        help="bm25 probe: force the exhaustive ranker even when the "
        "index carries a MaxScore bounds/ table (results are identical "
        "either way; pruned is the serving default)",
    )
    sp.add_argument("--m", type=int, default=4, help="PQ subspaces (ivfpq)")
    sp.add_argument("--pq-k", type=int, default=16, help="codes per subspace")
    sp.add_argument("--pq-iters", type=int, default=3)
    sp.set_defaults(fn=cmd_index)

    sp = sub.add_parser(
        "search",
        help="hybrid lexical+semantic search over persisted bm25 + ivfpq indexes",
    )
    sp.add_argument("--bm25", required=True, help="bm25 index directory")
    sp.add_argument("--ivfpq", required=True, help="ivfpq index directory")
    sp.add_argument(
        "--vectors", required=True,
        help="raw embeddings parquet (cold float store — read only for "
        "the rerank shortlist survivors)",
    )
    sp.add_argument(
        "--queries", required=True,
        help="query parquet with (query_id, text, embedding) columns",
    )
    sp.add_argument("--vec-col", default="embedding")
    sp.add_argument("--id-col", default="vec_id", help="id column of --vectors")
    sp.add_argument("--k", type=int, default=5, help="fused results per query")
    sp.add_argument("--lex-k", type=int, default=10, help="BM25 list depth")
    sp.add_argument("--sem-k", type=int, default=10, help="semantic list depth")
    sp.add_argument("--rrf-k", type=int, default=60)
    sp.add_argument(
        "--shortlist", type=int, default=50,
        help="ADC shortlist size the exact cosine rerank pays floats for",
    )
    sp.add_argument(
        "--diversify-k", type=int, default=0,
        help="MMR-diversify the fused list down to this many results "
        "(0 = off); pairwise sims come from --vectors",
    )
    sp.add_argument(
        "--diversify-lambda", type=int, default=700,
        help="MMR relevance weight in permille (700 = λ 0.7)",
    )
    sp.add_argument(
        "--exhaustive", action="store_true",
        help="force the exhaustive BM25 ranker even when the index "
        "carries a MaxScore bounds/ table (identical results; pruned "
        "is the serving default)",
    )
    sp.add_argument("--limit", type=int, default=0)
    sp.set_defaults(fn=cmd_search)

    sp = sub.add_parser("query", help="run a registry query and print rows")
    sp.add_argument("name", nargs="?", default="", help="query name (see --list)")
    sp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sp.add_argument("--limit", type=int, default=0, help="0 = all rows")
    sp.add_argument("--list", action="store_true", help="print the registry names")
    sp.add_argument(
        "--metrics",
        action="store_true",
        help="append executed-plan scan/row metrics as a JSON line",
    )
    sp.add_argument(
        "--explain",
        action="store_true",
        help="append the executed (AQE-final) physical plan as a JSON line",
    )
    sp.set_defaults(fn=cmd_query)

    sp = sub.add_parser("stats", help="table file/byte/partition metadata")
    sp.add_argument("--warehouse", default="warehouse")
    sp.add_argument("--table", default="", help="dataset.table ('' = all tables)")
    sp.add_argument("--partition", default="", help="time unit of the table")
    sp.add_argument("--rows", action="store_true", help="also count rows (runs a job)")
    sp.set_defaults(fn=cmd_stats)

    sp = sub.add_parser("expire", help="drop partitions older than a cutoff")
    sp.add_argument("--warehouse", default="warehouse")
    sp.add_argument("--table", required=True, help="dataset.table")
    sp.add_argument("--partition", required=True, help="time unit of the table")
    sp.add_argument("--before", required=True, help="cutoff in the partition format")
    sp.set_defaults(fn=cmd_expire)

    sp = sub.add_parser("snapshot", help="pin/read/list/drop named table snapshots")
    sp.add_argument("action", choices=["create", "list", "drop", "count"])
    sp.add_argument("--warehouse", default="warehouse")
    sp.add_argument("--table", required=True, help="dataset.table")
    sp.add_argument("--partition", default="", help="time unit of the table")
    sp.add_argument("--name", help="snapshot name (create/drop/count)")
    sp.set_defaults(fn=cmd_snapshot)

    sp = sub.add_parser("vacuum", help="reclaim retired files no snapshot references")
    sp.add_argument("--warehouse", default="warehouse")
    sp.add_argument("--table", required=True, help="dataset.table")
    sp.add_argument("--partition", default="", help="time unit of the table")
    sp.set_defaults(fn=cmd_vacuum)

    sp = sub.add_parser("curate", help="dedup/filter/split a documents corpus")
    sp.add_argument("input", help="documents parquet path")
    sp.add_argument("--output", "-o", required=True, help="curated parquet dir")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--min-quality", type=float, default=0.5)
    sp.add_argument(
        "--quality-quantile",
        type=int,
        default=0,
        help="also keep only docs at/above their language's q-permille "
        "quality quantile, adaptive per language (0 = off)",
    )
    sp.add_argument("--langs", default="", help="comma list; empty = keep all")
    sp.add_argument("--cap-per-lang", type=int, default=0, help="0 = no cap")
    sp.add_argument(
        "--near-dup",
        type=float,
        default=0.0,
        help="also drop MinHash near-dups at this est-jaccard (0 = off)",
    )
    sp.add_argument(
        "--lsh-perms",
        type=int,
        default=0,
        help="MinHash permutation budget: S-curve-tune (bands, rows) "
        "at the --near-dup threshold (0 = fixed 12x4 grid)",
    )
    sp.add_argument(
        "--keep-best",
        action="store_true",
        help="near-dup clusters keep their highest-quality member "
        "instead of the lowest id (requires --near-dup)",
    )
    sp.add_argument(
        "--gopher",
        action="store_true",
        help="apply the Gopher document-quality rules (Rae et al. 2021) "
        "as a hard pre-gate",
    )
    sp.add_argument(
        "--gopher-min-words",
        type=int,
        default=50,
        help="Gopher word-count lower bound (paper: 50)",
    )
    sp.add_argument(
        "--gopher-stopwords",
        default="",
        help="comma list overriding the paper's English stop-word "
        "rule list (multilingual corpora swap it per language)",
    )
    sp.add_argument(
        "--gopher-repetition",
        action="store_true",
        help="also apply the Gopher repetition thresholds (top-n-gram "
        "and duplicated-n-gram character fractions)",
    )
    sp.add_argument(
        "--ccnet",
        action="store_true",
        help="CCNet composition: per-predicted-language reference LMs "
        "(one grouped count frame), per-language perplexity terciles, "
        "tail bucket discarded",
    )
    sp.add_argument(
        "--ccnet-order",
        type=int,
        default=3,
        help="backoff order of the per-language CCNet LMs (default 3; "
        "CCNet's production point is 5)",
    )
    sp.add_argument(
        "--ccnet-lm-model",
        default="",
        help="persisted GROUPED count tables (quality lm-train --by): "
        "score this wave under the stored per-language reference LMs "
        "instead of retraining in-plan; --ccnet-order above the "
        "trained order (derived from the stored frame) is an error, "
        "and wave languages absent from the model bypass the tercile "
        "cut (counted in the summary) instead of being dropped",
    )
    sp.add_argument(
        "--exactsubstr",
        type=int,
        default=0,
        help="cut corpus-duplicated token spans of >= this length, "
        "keeping the first occurrence (Lee et al. 2021; 0 = off)",
    )
    sp.add_argument(
        "--exactsubstr-ledger",
        default="",
        help="persisted window-stat ledger dir: treat this batch as a "
        "WAVE (cut spans already in the ledger without rescanning "
        "earlier waves, then fold this wave's stats back in)",
    )
    sp.add_argument("--max-df", type=int, default=1000, help="DF-prune cap for near-dup")
    sp.add_argument(
        "--semantic",
        type=float,
        default=0.0,
        help="also drop SEMANTIC near-dups at this hashed-vector cosine (0 = off)",
    )
    sp.add_argument("--semantic-cells", type=int, default=64)
    sp.add_argument(
        "--token-budget-per-lang",
        type=int,
        default=0,
        help="keep each language's hash-order prefix up to N tokens (0 = off)",
    )
    sp.add_argument(
        "--temperature-budget",
        type=int,
        default=0,
        help="alpha=1/2 temperature mix: keep quota docs per language, "
        "quota proportional to isqrt(lang count), N total (0 = off)",
    )
    sp.add_argument(
        "--chunk-size",
        type=int,
        default=0,
        help="emit fixed-stride token windows of this size instead of docs (0 = off)",
    )
    sp.add_argument("--chunk-overlap", type=int, default=0)
    sp.add_argument(
        "--shards",
        type=int,
        default=0,
        help="partition output into N token-balanced shards (0 = off)",
    )
    sp.add_argument(
        "--expect",
        default="",
        help="JSON file with data-expectation checks run as a fail-fast "
        "pre-gate: any failed check aborts the curation (exit 2) with "
        "the report on stdout",
    )
    sp.add_argument(
        "--nb-model",
        default="",
        help="persisted NB quality model (see `quality train`): keep "
        "docs scoring above --nb-min-score micro-nats",
    )
    sp.add_argument("--nb-min-score", type=int, default=0)
    sp.add_argument(
        "--lm-model", default="",
        help="persisted LM count tables (quality lm-train): keep docs "
        "whose avg per-token cost is <= --lm-max-avg micro-nats",
    )
    sp.add_argument("--lm-max-avg", type=int, default=10_000_000)
    sp.set_defaults(fn=cmd_curate)

    sp = sub.add_parser(
        "quality",
        help="train/apply/evaluate the NB corpus-quality model, or the "
        "LM perplexity filter (lm-train/lm-score/lm-eval/lm-bucket)",
    )
    sp.add_argument(
        "action",
        choices=["train", "score", "eval", "lm-train", "lm-score",
                 "lm-eval", "lm-bucket"],
    )
    sp.add_argument("input", help="documents parquet path")
    sp.add_argument("--model", required=True, help="model parquet dir")
    sp.add_argument("--label-col", default="lang")
    sp.add_argument("--label-value", default="en",
                    help="rows with label-col == this are the known-good class")
    sp.add_argument("--buckets", type=int, default=16384)
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--output", default="", help="score: write per-doc scores here")
    sp.add_argument(
        "--thresholds", default="0",
        help="eval: comma-separated micro-nat score thresholds to sweep",
    )
    sp.add_argument(
        "--order", type=int, default=2,
        help="lm-train/lm-score/lm-eval: n-gram order of the Stupid-"
        "Backoff LM (CCNet's operating point is 5); scoring order must "
        "not exceed the model's trained order",
    )
    sp.add_argument(
        "--by", default="",
        help="lm-train: train one reference LM PER VALUE of this "
        "column in a single grouped pass (the whole input is the "
        "reference corpus — no --label filter) and save the grouped "
        "(grp, ctx, tok, cnt) tables for `curate --ccnet-lm-model`",
    )
    sp.set_defaults(fn=cmd_quality)

    sp = sub.add_parser("tokenizer", help="train/apply the deterministic BPE subword tokenizer")
    sp.add_argument("action", choices=["train", "encode"])
    sp.add_argument("input", help="documents parquet path")
    sp.add_argument("--model", required=True, help="merge-table parquet dir")
    sp.add_argument("--merges", type=int, default=200, help="train: merge rounds")
    sp.add_argument("--min-count", type=int, default=1,
                    help="train: stop when no pair reaches this count")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--output", default="", help="encode: write per-doc rows here")
    sp.add_argument("--segments", action="store_true",
                    help="encode: emit the full subword rendering, not just counts")
    sp.set_defaults(fn=cmd_tokenizer)

    sp = sub.add_parser("report", help="corpus diagnostics (n-grams/quantiles/histogram/vocab)")
    sp.add_argument("input", help="documents parquet path")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--ngrams", type=int, default=0, help="mine top repeated N-grams (0 = off)")
    sp.add_argument("--top-k", type=int, default=20)
    sp.add_argument("--min-count", type=int, default=2)
    sp.add_argument(
        "--quantiles-by", default="", help="exact token-count quantiles per this column"
    )
    sp.add_argument(
        "--length-hist", type=int, default=0, help="token-length histogram bucket size (0 = off)"
    )
    sp.add_argument("--vocab", type=int, default=0, help="top-K vocabulary report (0 = off)")
    sp.add_argument(
        "--distinct", default="",
        help="comma list of columns: HyperLogLog distinct-count estimates "
        "(one register build per column, never a key-space shuffle)",
    )
    sp.add_argument(
        "--heavy-hitters", type=int, default=0,
        help="tokens with count-min estimated frequency >= N (0 = off; "
        "one-sided: every truly-frequent token survives)",
    )
    sp.add_argument(
        "--gopher",
        action="store_true",
        help="per-rule Gopher failure counts (which rules would bite)",
    )
    sp.add_argument(
        "--gopher-stopwords",
        default="",
        help="comma list overriding the Gopher stop-word rule list",
    )
    sp.add_argument(
        "--expectations",
        default="",
        help="JSON file with a list of data-expectation checks to run",
    )
    sp.set_defaults(fn=cmd_report)

    sp = sub.add_parser("serve", help="HTTP push endpoint")
    common(sp, objects=False)
    sp.add_argument("--addr", "-a", default="127.0.0.1:8080")
    sp.add_argument("--states", default="states")
    sp.add_argument("--auth", default=None, help="YAML deny-rule policy file")
    sp.set_defaults(fn=cmd_serve)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
