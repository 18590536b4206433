"""Benchmark harness: registry queries at $SPARK_GRAFT_SF_DIR.

    python bench.py [NAME ...] [--plans DIR]

With no names it runs the HEADLINE rows; names select any registry
queries. ``--plans DIR`` writes each row's formatted plan, taken before
execution on its warm-up build, to ``DIR/<query>.txt``. The sample count
is ``$SPARK_GRAFT_BENCH_RUNS`` (default 3).

Prints ONE JSON line, last:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is built and executed to completion (collect) once untimed,
then once per interleaved round, and scored by its MEDIAN wall seconds:
single-run timings on this class of host drift 1.2-3x with invisible
neighbor load, which round-4 analysis showed swamps real plan deltas.
value = sum of per-query medians. Each sample runs its builder under
the job group ``<query>:<i>:build`` and its collect under
``<query>:<i>:exec``, and times the two phases apart; the sidecar
``BENCH_samples.json`` carries per-row build/exec medians and the
job/stage digest read from the live status store.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="registry queries (default: HEADLINE)")
    ap.add_argument("--plans", metavar="DIR", help="write DIR/<query>.txt plans")
    args = ap.parse_args(argv)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    from swarm_spark.queries import all_queries

    unknown = sorted(set(args.names) - set(all_queries()))
    if unknown:
        ap.error(f"unknown queries: {' '.join(unknown)}")

    from swarm_spark.session import get_spark

    spark = get_spark(app_name="swarm-spark-bench")
    try:
        headline, sidecar = run(spark, args.names or HEADLINE, sf_dir, runs, args.plans)
    finally:
        spark.stop()
    sidecar_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_samples.json")
    try:
        with open(sidecar_path, "w") as fh:
            json.dump(sidecar, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # sidecar is best-effort; the headline line is the artifact
    print(json.dumps(headline, separators=(",", ":")))


# scan, filter, join, agg, window, union, sql, pipeline, plus the
# training-data operators (dedup, similarity, text analysis)
HEADLINE = (
    "s1_scan_count",
    "r1_event_rule_filter",
    "r2_projection",
    "r2_fanout_join",
    "q5_partition_derivation",
    "g1_group_by_destination",
    "q2_schema_merge_union",
    "x1_dedup_by_id",
    "e1_size_batching",
    "m1_sql_passthrough",
    "pipeline_ingest_e2e",
    "corpus_curate",
    "text_strip_segments",
    "text_token_stats",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "dedup_simhash64_pairs",
    "dedup_embedding",
    "dedup_semantic",
    "ann_topk_bruteforce",
    "multimodal_features",
    "tfidf_top_terms",
    "sample_token_budget",
    "text_dsir",
    "corpus_top_ngrams",
    "corpus_tok_quantiles",
    "dedup_bloom_gate",
    "text_quality_gate",
    "text_nb_quality",
    "corpus_expectations_approx",
    "bm25_topk",
    # the doc-length `bm25_pruned`/`lm_pruned` rows are pre-gated to the
    # exhaustive plan at this batch size, so benching them against their
    # exhaustive twins would time the same plan twice. The headline
    # pruned rows are the persisted-index entries (never pre-gated,
    # plan-pinned to the pruned path at sf0.1 in tests/test_plans.py).
    "bm25_pruned_idx",
    "bm25_topk_kw",
    "bm25_pruned_kw",
    "lm_topk",
    # lm_topk_kw is the exhaustive twin of lm_pruned_idx on the same kw
    # corpus, so the lm pruning A/B reads pairwise like the bm25 one
    "lm_topk_kw",
    "lm_pruned_idx",
    "phrase_match",
    "phrase_match_rare",
    "text_gopher_rules",
    "dedup_exactsubstr_cut",
    "corpus_curate_modern",
    "corpus_curate_ccnet",
    "text_bpe_tokens",
    "pack_chunks_bpe",
    "text_lm_perplexity",
    "text_lm_eval",
    "corpus_cms_freq",
    "text_nb_eval",
    "corpus_hll_distinct",
    "similarity_tfidf_pairs",
    "sample_temperature",
    "layout_zorder",
    # the fused ANN build+probe compositions (ann_topk_ivf,
    # ann_topk_ivfpq) are left out like the rest of that tier: their
    # wall is k-means driver-round fixed overhead, measured by
    # scripts/scale_probe.py's 1x/10x exponents
)


def warm_up(spark) -> None:
    """Pay the session's one-off first-use costs before anything is
    timed: the JVM and parquet footer cache, the reused Python workers'
    pandas/numpy imports (~2-3 s across cold workers on the first
    pandas-UDF stage), and the JSON text write/read machinery (several
    seconds of JVM/codegen warm-up inside whichever query touches it
    first)."""
    from pyspark.sql import functions as F

    spark.range(1000).count()

    def _noop(it):
        import numpy  # noqa: F401, PLC0415
        import pandas  # noqa: F401, PLC0415

        yield from it

    cores = spark.sparkContext.defaultParallelism
    spark.range(cores * 4).repartition(cores).mapInPandas(_noop, "id long").count()
    with tempfile.TemporaryDirectory(prefix="swarm_bench_warm_") as warm_dir:
        spark.range(256).select(
            F.to_json(F.struct(F.col("id"), F.lit("warm").alias("s"))).alias("value")
        ).repartition(4).write.mode("overwrite").text(warm_dir)
        spark.read.json(warm_dir).count()


def _median(xs):
    return sorted(xs)[len(xs) // 2]


def _row_digest(samples) -> dict:
    """Build/exec medians, plus the job counts and stage digest of the
    sample whose wall is the row's median."""
    walls = [b + e for b, e, _, _ in samples]
    _, _, build_jobs, digest = samples[walls.index(_median(walls))]
    return {
        "build_s": round(_median([b for b, _, _, _ in samples]), 4),
        "exec_s": round(_median([e for _, e, _, _ in samples]), 4),
        "build_jobs": build_jobs,
        "exec_jobs": digest["jobs"] - build_jobs,
        **digest,
    }


def run(spark, names, sf_dir, runs, plans_dir=None) -> tuple[dict, dict]:
    """Measure ``names`` at ``sf_dir`` over ``runs`` interleaved rounds
    on ``spark``; return the headline dict and the sidecar dict."""
    from swarm_spark.metrics import job_digest
    from swarm_spark.queries import all_queries

    reg = all_queries()
    sc = spark.sparkContext
    if plans_dir is not None:
        os.makedirs(plans_dir, exist_ok=True)
    warm_up(spark)
    # Untimed warm-up round: each query's FIRST execution pays one-off
    # driver-side plan compilation + codegen for its shape (observed 2-8 s
    # on the heavier pipelines), which is session-lifetime cost.
    for name in names:
        spark.catalog.clearCache()
        df = reg[name][0](spark, sf_dir)
        if plans_dir is not None:
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(mode))
        df.collect()
    # INTERLEAVED rounds, median per query ACROSS rounds: host-load bursts
    # on this class of machine last tens of seconds, so consecutive
    # repeats of one query would all land inside one burst.
    load = [os.getloadavg()[0]]
    # per row, per sample: (build_s, exec_s, build jobs, digest of both phases)
    sampled: dict[str, list[tuple]] = {name: [] for name in names}
    try:
        for i in range(runs):
            load.append(os.getloadavg()[0])
            for name in names:
                # each sample measures the query's own cost: frames an
                # earlier query persisted would otherwise let identical
                # subtrees read the cache (bm25_topk_kw sampled 8.8 s
                # in-session vs 33 s fresh)
                spark.catalog.clearCache()
                group = f"{name}:{i}"
                sc.setJobGroup(f"{group}:build", f"{group}:build")
                t0 = time.perf_counter()
                df = reg[name][0](spark, sf_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(f"{group}:exec", f"{group}:exec")
                df.collect()
                exec_s = time.perf_counter() - t1
                # the status store keeps only the last 1000 jobs/stages
                digest = job_digest(sc, f"{group}:build", f"{group}:exec")
                build_jobs = len(sc.statusTracker().getJobIdsForGroup(f"{group}:build"))
                sampled[name].append((t1 - t0, exec_s, build_jobs, digest))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    samples = {name: [b + e for b, e, _, _ in s] for name, s in sampled.items()}
    timings = {name: round(_median(s), 4) for name, s in samples.items()}
    # Host-load noise is strictly additive, so the per-query MINIMUM
    # estimates uncontended cost; reported beside the headline median.
    minima = {name: round(min(s), 4) for name, s in samples.items()}
    load_1m = [round(x, 2) for x in load]
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    # The driver captures only the TAIL of stdout, so the headline must
    # stay one COMPACT line (<~2 KB); everything per-sample goes to the
    # sidecar.
    headline = {
        "metric": "headline_queries_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": runs,
        "aggregation": "median",
        "load_1m": load_1m,
        "samples_file": "BENCH_samples.json",
    }
    sidecar = {
        "queries_min": minima,
        "value_min": round(sum(minima.values()), 4),
        # 1-min load average before each round: far above the bench's own
        # parallelism means an external burst, so a slow median with high
        # load is drift, not a regression
        "load_1m": load_1m,
        # raw per-round samples in run order
        "samples": {name: [round(x, 4) for x in s] for name, s in samples.items()},
        "digest": {name: _row_digest(s) for name, s in sampled.items()},
    }
    return headline, sidecar


if __name__ == "__main__":
    main()
