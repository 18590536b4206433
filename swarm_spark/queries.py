"""Declared correctness queries (SURVEY.md §2.3) + their DuckDB oracles.

Each entry restates one ingestion-dataflow operator as a deterministic,
dialect-portable query over the driver's synthetic tables, implemented
with the idiomatic DataFrame construct on the Spark side and ANSI-ish
SQL on the DuckDB side. The driver hash-compares both at sf0.01
(CORRECTNESS_r{N}.json) — column names and types are aligned on both
sides on purpose.

Determinism rules used throughout:
- aggregates stay integral (counts, exact-integral double sums, or the
  round-to-cents trick) so cross-engine float summation order can't
  flip a bit;
- every computed column is aliased identically in both dialects;
- DuckDB `make_timestamp(us)` (naive) instead of `to_timestamp`
  (timestamptz) so types line up with Spark's UTC session.

NOTE vs SURVEY §2.3 as written: the driver's slimmed TPC-H tables lack
``o_comment``, ``o_clerk`` and ``l_comment``; those predicates are
re-expressed over existing columns with identical operator shape.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- S1/P1
def q_s1_scan_count(spark, sf):
    return _t(spark, sf, "lineitem").agg(F.count(F.lit(1)).alias("n"))


SQL_S1 = "SELECT count(*) AS n FROM lineitem"


# ---------------------------------------------------------------- S3
def q_s3_prefix_filter(spark, sf):
    part = _t(spark, sf, "part")
    return part.where(F.col("p_name").startswith("a")).agg(F.count(F.lit(1)).alias("n"))


SQL_S3 = "SELECT count(*) AS n FROM part WHERE p_name LIKE 'a%'"


# ---------------------------------------------------------------- R1
def q_r1_event_rule_filter(spark, sf):
    # startswith/endswith predicate pair, as event rules use
    # (reference pkg/usecase/testdata/policy/event.rego:9,19)
    orders = _t(spark, sf, "orders")
    return orders.where(
        F.col("o_orderpriority").startswith("1") & F.col("o_orderstatus").endswith("F")
    ).agg(F.count(F.lit(1)).alias("n"))


SQL_R1 = (
    "SELECT count(*) AS n FROM orders "
    "WHERE o_orderpriority LIKE '1%' AND o_orderstatus LIKE '%F'"
)


# ---------------------------------------------------------------- R2 (projection)
def q_r2_projection(spark, sf):
    orders = _t(spark, sf, "orders")
    return (
        orders.select(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderdate").alias("ts"),
            F.col("o_totalprice").alias("price"),
        )
        .orderBy("id")
        .limit(100)
    )


SQL_R2_PROJ = (
    "SELECT o_orderkey AS id, o_orderdate AS ts, o_totalprice AS price "
    "FROM orders ORDER BY id LIMIT 100"
)


# ---------------------------------------------------------------- R2 (fan-out)
def q_r2_fanout_join(spark, sf):
    # Records[_] unnest analogue: envelope (orders) 1:N records (lineitem)
    orders = _t(spark, sf, "orders").select("o_orderkey")
    lineitem = _t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey, "inner")
        .select(F.col("o_orderkey").alias("okey"), F.col("l_linenumber").alias("lineno"))
        .orderBy("okey", "lineno")
        .limit(1000)
    )


SQL_R2_FANOUT = (
    "SELECT o.o_orderkey AS okey, l.l_linenumber AS lineno "
    "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
    "ORDER BY 1, 2 LIMIT 1000"
)


# ---------------------------------------------------------------- R3
def q_r3_validation(spark, sf):
    orders = _t(spark, sf, "orders")
    return orders.where(
        F.col("o_orderdate").isNotNull() & F.col("o_orderkey").isNotNull()
    ).agg(F.count(F.lit(1)).alias("n"))


SQL_R3 = (
    "SELECT count(*) AS n FROM orders "
    "WHERE o_orderdate IS NOT NULL AND o_orderkey IS NOT NULL"
)


# ---------------------------------------------------------------- T1
def q_t1_null_strip(spark, sf):
    # null-ignoring count (the inference-side effect of nil stripping)
    ev = _t(spark, sf, "events")
    return ev.agg(
        F.count("props").alias("n_props"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_T1 = "SELECT count(props) AS n_props, count(*) AS n_rows FROM events"


# ---------------------------------------------------------------- T2
def q_t2_deterministic_id(spark, sf):
    orders = _t(spark, sf, "orders")
    return (
        orders.orderBy("o_orderkey")
        .limit(10)
        .select(F.md5(F.col("o_orderkey").cast("string")).alias("id"))
    )


SQL_T2 = (
    "SELECT md5(cast(o_orderkey AS varchar)) AS id "
    "FROM (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 10) t"
)


# ---------------------------------------------------------------- T3
def q_t3_timestamp_build(spark, sf):
    return spark.range(1).select(
        F.timestamp_seconds(F.lit(1559347200)).cast("date").alias("d")
    )


SQL_T3 = "SELECT cast(make_timestamp(1559347200000000) AS date) AS d"


# ---------------------------------------------------------------- Q5
def q_q5_partition_derivation(spark, sf):
    orders = _t(spark, sf, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("p"),
            F.date_format(F.col("o_orderdate"), "yyyy-MM").alias("part"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("p")
    )


SQL_Q5 = (
    "SELECT cast(date_trunc('month', o_orderdate) AS date) AS p, "
    "strftime(o_orderdate, '%Y-%m') AS part, count(*) AS n "
    "FROM orders GROUP BY 1, 2 ORDER BY 1"
)


# ---------------------------------------------------------------- G1
def q_g1_group_by_destination(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),  # integral doubles: exact
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_G1 = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty "
    "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"
)


# ---------------------------------------------------------------- G2
def q_g2_chunking(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.agg(
        F.ceil(F.count(F.lit(1)) / 256.0).cast("long").alias("chunks")
    )


SQL_G2 = "SELECT cast(ceil(count(*) / 256.0) AS bigint) AS chunks FROM lineitem"


# ---------------------------------------------------------------- Q2
def q_q2_schema_merge_union(spark, sf):
    orders = _t(spark, sf, "orders")
    a = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.lit(None).cast("string").alias("clerk"),
    )
    b = orders.select(
        F.col("o_orderkey").alias("k"),
        F.lit(None).cast("double").alias("price"),
        F.col("o_orderstatus").alias("clerk"),
    )
    return a.unionByName(b).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("price").alias("n_price"),
        F.count("clerk").alias("n_clerk"),
    )


SQL_Q2 = (
    "SELECT count(*) AS n, count(price) AS n_price, count(clerk) AS n_clerk FROM ("
    "  SELECT o_orderkey AS k, o_totalprice AS price, NULL AS clerk FROM orders"
    "  UNION ALL"
    "  SELECT o_orderkey, NULL, o_orderstatus FROM orders) t"
)


# ---------------------------------------------------------------- X1/T2
def q_x1_dedup_by_id(spark, sf):
    li = _t(spark, sf, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (
        li.select("l_orderkey", "l_linenumber")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_X1 = (
    "SELECT count(*) AS n FROM ("
    "  SELECT l_orderkey, row_number() OVER "
    "  (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn FROM lineitem) t "
    "WHERE rn = 1"
)


# ---------------------------------------------------------------- E1
def q_e1_size_batching(spark, sf):
    # 4-MiB enqueue size cap arithmetic; cents trick keeps the double
    # sum exact and order-independent across engines
    li = _t(spark, sf, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return li.agg(
        F.ceil(F.sum(cents) / 100.0 / 4194304.0).cast("long").alias("batches")
    )


SQL_E1 = (
    "SELECT cast(ceil(sum(cast(round(l_extendedprice * 100) AS bigint)) "
    "/ 100.0 / 4194304.0) AS bigint) AS batches FROM lineitem"
)


# ---------------------------------------------------------------- M1
def q_m1_sql_passthrough(spark, sf):
    # the migrate operator is a SQL pass-through; run it as one
    _t(spark, sf, "orders").createOrReplaceTempView("m1_orders")
    return spark.sql("SELECT count(*) AS n FROM (SELECT * FROM m1_orders) t")


SQL_M1 = "SELECT count(*) AS n FROM (SELECT * FROM orders) t"


# ------------------------------------------------- full pipeline (rows-only)
def q_pipeline_ingest_e2e(spark, sf):
    """The whole ingestion dataflow as one query: events table →
    NDJSON objects → event-rule routing → schema-rule transform with
    JSON-payload parsing → envelope with content-hash ids.

    The content-hash ids themselves aren't SQL-expressible, but their
    COUNT DISTINCT is (ids must be unique ⟺ n_ids = n), and routing /
    fan-out are plain aggregates over ``events`` — so the whole run is
    hash-checked against the oracle below.
    """
    import os
    import tempfile

    from .model import ObjectMeta, Source
    from .pipeline import IngestPipeline
    from .rules import EventRule, EventRuleSet, SchemaRuleRegistry, name_suffix, rule_output

    ev = _t(spark, sf, "events")
    tmp = tempfile.mkdtemp(prefix="swarm_e2e_")
    obj_dir = os.path.join(tmp, "objects")
    # one NDJSON "object" per spark partition — the batch-ingest shape;
    # 16 objects so fixture setup writes (and the ingest scan reads)
    # with real parallelism instead of capping at 4 of the cores
    ev.select(F.to_json(F.struct(*ev.columns)).alias("value")).repartition(16).write.mode(
        "overwrite"
    ).text(obj_dir)
    paths = [
        os.path.join(obj_dir, f) for f in sorted(os.listdir(obj_dir)) if f.endswith(".txt")
    ]

    rules = SchemaRuleRegistry()

    @rules.rule("events")
    def events_rule(df):
        return rule_output(
            df,
            dataset="analytics",
            table=F.concat(F.lit("ev_"), F.col("event_type")),
            timestamp=F.unix_timestamp(F.to_timestamp("ts")).cast("double"),
            data=F.struct(
                F.col("event_id"),
                F.col("user_id"),
                F.col("value"),
                F.from_json(F.col("props"), "k int").alias("props"),
            ),
        )

    erules = EventRuleSet(
        [EventRule("events", name_suffix(".txt"), (Source(schema="events"),))]
    )
    pipe = IngestPipeline(spark, erules, rules, sink=None)  # transform-only
    objs = [ObjectMeta(bucket="local", name=os.path.basename(p), path=p) for p in paths]
    out = pipe.transform_objects(objs)
    # Exact distinct-id count WITHOUT the planner's Expand (countDistinct
    # mixed with plain aggs doubles the pre-shuffle row volume): stage 1
    # partially aggregates per (dataset, table, id) — map-side combined,
    # one shuffle on the full key — stage 2 reduces the (tiny) per-id
    # frame to per-table totals.
    per_id = (
        out.select("dataset", "table", "id", F.col("data.event_id").alias("event_id"))
        .groupBy("dataset", "table", "id")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("event_id").alias("mn"),
            F.max("event_id").alias("mx"),
            F.sum("event_id").alias("sm"),
        )
    )
    return (
        per_id.groupBy("dataset", "table")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("n_ids"),
            F.min("mn").alias("min_eid"),
            F.max("mx").alias("max_eid"),
            F.sum("sm").alias("sum_eid"),
        )
        .orderBy("table")
    )


SQL_PIPELINE_E2E = """
SELECT 'analytics' AS dataset, 'ev_' || event_type AS "table",
       count(*) AS n, count(*) AS n_ids,
       min(event_id) AS min_eid, max(event_id) AS max_eid,
       cast(sum(event_id) AS BIGINT) AS sum_eid
FROM events GROUP BY 1, 2 ORDER BY "table"
"""


# ------------------------------------- serve path e2e (rows-only)
def q_serve_pubsub_e2e(spark, sf):
    """S4/S5 + X1/X2 as one query: events → NDJSON objects → enqueue
    into batched swarm messages → notification processor with the
    exactly-once state gate — every message delivered TWICE; the
    returned per-table counts prove single processing. The oracle is
    the plain per-type count over ``events``: any duplicate landing
    doubles a count and fails the hash."""
    import os
    import tempfile

    from .model import Source, TableDest
    from .pipeline import IngestPipeline, MemoryPublisher, enqueue, list_local_objects
    from .rules import EventRule, EventRuleSet, SchemaRuleRegistry, name_suffix, rule_output
    from .sinks import TableSink
    from .streaming import NotificationProcessor, StateStore

    ev = _t(spark, sf, "events")
    tmp = tempfile.mkdtemp(prefix="swarm_serve_")
    obj_dir = os.path.join(tmp, "objects")
    ev.select(F.to_json(F.struct(*ev.columns)).alias("value")).coalesce(3).write.mode(
        "overwrite"
    ).text(obj_dir)

    rules = SchemaRuleRegistry()

    @rules.rule("events")
    def events_rule(df):
        return rule_output(
            df,
            dataset="served",
            table=F.concat(F.lit("ev_"), F.col("event_type")),
            timestamp=F.unix_timestamp(F.to_timestamp("ts")).cast("double"),
            data=F.struct("event_id", "user_id", "value"),
        )

    erules = EventRuleSet([EventRule("t", name_suffix(".txt"), (Source(schema="events"),))])
    sink = TableSink(spark, os.path.join(tmp, "wh"))
    pipe = IngestPipeline(spark, erules, rules, sink)
    proc = NotificationProcessor(pipe, StateStore(os.path.join(tmp, "states")))

    pub = MemoryPublisher()
    enqueue(list_local_objects(os.path.join(obj_dir, "*.txt")), pub, count_limit=2)
    for body in pub.bodies + pub.bodies:  # duplicate delivery of every message
        proc.handle_pubsub(body)

    frames = [
        sink.read_table(d).select(F.lit(d.table).alias("table"), "id")
        for d in sink.list_tables()
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.groupBy("table").agg(F.count(F.lit(1)).alias("n")).orderBy("table")


SQL_SERVE_E2E = """
SELECT 'ev_' || event_type AS "table", count(*) AS n
FROM events GROUP BY 1 ORDER BY "table"
"""


def q_streaming_ingest_e2e(spark, sf):
    """Structured Streaming ingest (availableNow drain + checkpoint):
    run the stream twice; the second run must land nothing new.
    Oracle = plain per-type counts: a re-ingest on the second drain
    would double them and fail the hash."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from .model import Source, TableDest
    from .pipeline import IngestPipeline
    from .rules import EventRule, EventRuleSet, SchemaRuleRegistry, name_suffix, rule_output
    from .sinks import TableSink
    from .streaming import stream_ingest

    ev = _t(spark, sf, "events")
    tmp = tempfile.mkdtemp(prefix="swarm_stream_")
    src_dir = os.path.join(tmp, "incoming")
    ev.select(F.to_json(F.struct("event_id", "user_id", "event_type", "value")).alias("value")) \
        .coalesce(2).write.mode("overwrite").text(src_dir)

    rules = SchemaRuleRegistry()

    @rules.rule("stream_events")
    def stream_events(df):
        return rule_output(
            df,
            dataset="streamed",
            table="events",
            timestamp=(F.col("event_id") + 1).cast("double"),
            data=F.struct("event_id", "user_id", "event_type", "value"),
        )

    erules = EventRuleSet(
        [EventRule("t", name_suffix(".txt"), (Source(schema="stream_events"),))]
    )
    sink = TableSink(spark, os.path.join(tmp, "wh"))
    pipe = IngestPipeline(spark, erules, rules, sink)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    for _ in range(2):  # second drain re-ingests nothing (checkpoint)
        q = stream_ingest(
            spark, src_dir, schema, pipe, "stream_events",
            checkpoint_dir=os.path.join(tmp, "ckpt"), available_now=True,
        )
        q.awaitTermination(300)
    return (
        sink.read_table(TableDest("streamed", "events"))
        .groupBy(F.col("data.event_type").alias("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


SQL_STREAMING_E2E = """
SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY 1
"""


def q_streaming_dedup_e2e(spark, sf):
    """Streaming corpus ingestion with CONTENT dedup: every document
    arrives twice (a second file under different ids) across multiple
    micro-batches; a per-batch exact dedup plus an anti-join against a
    persistent digest ledger must land each distinct text exactly once.
    Output = per-language landed counts; a missed duplicate doubles a
    count and fails the oracle hash.

    Scale shape: the ledger is the materialized digest frame a real
    deployment keeps next to the corpus (ops.dedup.content_digests);
    each micro-batch shuffles only its own digests, and the anti-join's
    big side is the batch, never the corpus."""
    import os
    import tempfile

    from pyspark.sql import types as T

    docs = load_table(spark, sf, "documents").select("doc_id", "text", "lang")
    tmp = tempfile.mkdtemp(prefix="swarm_sdedup_")
    src = os.path.join(tmp, "incoming")
    # wave 1: the corpus; wave 2: the same texts under shifted ids
    docs.select(F.to_json(F.struct("doc_id", "text", "lang")).alias("value")) \
        .coalesce(2).write.mode("overwrite").text(src)
    docs.select(
        F.to_json(
            F.struct(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang"
            )
        ).alias("value")
    ).coalesce(2).write.mode("append").text(src)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    target = os.path.join(tmp, "landed")
    ledger = os.path.join(tmp, "ledger")

    def land(batch_df, epoch_id: int) -> None:
        b = (
            batch_df.withColumn("h", F.md5("text"))
            .groupBy("h")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.first("text").alias("text"),
                F.first("lang").alias("lang"),
            )
        )
        if os.path.isdir(ledger):
            seen = batch_df.sparkSession.read.parquet(ledger)
            b = b.join(seen, "h", "left_anti")
        b = b.persist()
        b.select("h").write.mode("append").parquet(ledger)
        b.select("doc_id", "text", "lang").write.mode("append").parquet(target)
        b.unpersist()

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")  # force multiple micro-batches
        .json(src)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return (
        spark.read.schema("doc_id long, text string, lang string")
        .parquet(target)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("lang")
    )


SQL_STREAMING_DEDUP = """
SELECT lang, cast(count(DISTINCT text) AS bigint) AS n_docs
FROM documents GROUP BY 1 ORDER BY 1
"""


def q_streaming_sketch_e2e(spark, sf):
    """Streaming cardinality maintenance end-to-end: documents arrive
    as hash-sliced micro-batches; each batch APPENDS its
    linear-counting bitmap to an append-only ledger (bitmaps are a
    bit_or monoid, so append + merge-at-read equals the full recompute
    — no read-modify-write on the stored sketch, hence no races and
    crash-safe replay); the final merged estimate must hash-equal the
    one-shot batch sketch the oracle computes. The streaming form of
    ``corpus_sketch_incremental``."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from .ops.dedup import linear_count_bitmap, linear_count_estimate
    from .ops.sampling import hash_bucket

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="swarm_sketch_stream_")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)
    slice_id = hash_bucket("doc_id", "swarm-sketch-slice") % 4
    for k in range(4):
        rows = (
            docs.where(slice_id == k)
            .select(F.to_json(F.struct("doc_id", "text")).alias("v"))
            .collect()
        )
        with open(os.path.join(src, f"b{k}.ndjson"), "w") as f:
            for r in rows:
                f.write(r["v"] + "\n")

    ledger = os.path.join(tmp, "bitmaps")
    os.makedirs(ledger)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def land(batch_df, _epoch):
        linear_count_bitmap(batch_df, "text").write.mode("append").parquet(ledger)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one slice per micro-batch
        .json(src)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    merged = (
        spark.read.schema("block int, mask long")
        .parquet(ledger)
        .groupBy("block")
        .agg(F.bit_or("mask").alias("mask"))
    )
    return linear_count_estimate(merged)


SQL_STREAMING_SKETCH = """
WITH d AS (SELECT md5('swarm-lc|' || text) AS h FROM documents),
p AS (SELECT (
        (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
      + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
      + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
      + (instr('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
      + (instr('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
      + (instr('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
      + (instr('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
      + (instr('0123456789abcdef', substr(h, 8, 1)) - 1)) % 4096 AS block,
      (cast(1 AS bigint) << cast((
        (instr('0123456789abcdef', substr(h, 9, 1)) - 1) * 4096
      + (instr('0123456789abcdef', substr(h, 10, 1)) - 1) * 256
      + (instr('0123456789abcdef', substr(h, 11, 1)) - 1) * 16
      + (instr('0123456789abcdef', substr(h, 12, 1)) - 1)) % 62 AS int)) AS mask
      FROM d),
b AS (SELECT block, bit_or(mask) AS mask FROM p GROUP BY 1),
sb AS (SELECT cast(coalesce(sum(bit_count(mask)), 0) AS bigint) AS set_bits FROM b)
SELECT cast(253952 AS bigint) AS m_bits, sb.set_bits,
       cast(253952 - sb.set_bits AS bigint) AS zero_bits,
       cast(round(-253952.0 * ln((253952 - sb.set_bits) / 253952.0)) AS bigint)
           AS estimate
FROM sb
"""


def q_streaming_quantiles_e2e(spark, sf):
    """Streaming quantile maintenance end-to-end: documents arrive as
    hash-sliced micro-batches; each batch APPENDS its (lang, value)
    histogram to an append-only ledger (histograms are a count monoid,
    so append + sum-at-read equals the full recompute — no
    read-modify-write on the stored statistic, no races, crash-safe
    replay); the merged nearest-rank quantiles must hash-equal the
    one-shot batch computation. The streaming form of
    ``corpus_quantiles_incremental``, sharing its oracle shape with
    ``corpus_tok_quantiles``."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from .ops.sampling import hash_bucket
    from .ops.text import quantiles_from_histogram, tokens_col, value_histogram_counts

    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    tmp = tempfile.mkdtemp(prefix="swarm_quant_stream_")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)
    slice_id = hash_bucket("doc_id", "swarm-quant-slice") % 4
    for k in range(4):
        rows = (
            docs.where(slice_id == k)
            .select(F.to_json(F.struct("doc_id", "lang", "text")).alias("v"))
            .collect()
        )
        with open(os.path.join(src, f"b{k}.ndjson"), "w") as f:
            for r in rows:
                f.write(r["v"] + "\n")

    ledger = os.path.join(tmp, "hists")
    os.makedirs(ledger)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def land(batch_df, _epoch):
        h = value_histogram_counts(
            batch_df.select(
                "lang", F.size(tokens_col("text")).cast("long").alias("n_tok")
            ),
            "lang",
            "n_tok",
        )
        h.write.mode("append").parquet(ledger)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one slice per micro-batch
        .json(src)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    merged = (
        spark.read.schema("lang string, value long, cnt long")
        .parquet(ledger)
        .groupBy("lang", "value")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    return quantiles_from_histogram(merged, "lang")


SQL_STREAMING_QUANTILES = """
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


def q_streaming_postings_e2e(spark, sf):
    """Streaming search-index maintenance end-to-end: documents arrive
    as hash-sliced micro-batches; each batch APPENDS its BM25 postings,
    df stats and grand totals to three append-only ledgers (all three
    are additive monoids — postings sum tf per (id, tok), stats sum df
    per token, totals sum the two grand counters — so append +
    fold-at-read equals the one-shot build: no read-modify-write on the
    stored index, no races, crash-safe replay). Probing the folded
    ledgers with ``docs=None`` must hash-equal the ad-hoc bm25_topk
    build the oracle computes. Completes the streaming-statistics
    family: digests, bitmaps, histograms, postings."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from .ops.retrieval import bm25_postings, bm25_stats, bm25_topk, bm25_totals
    from .ops.sampling import hash_bucket

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="swarm_post_stream_")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)
    slice_id = hash_bucket("doc_id", "swarm-post-slice") % 4
    for k in range(4):
        rows = (
            docs.where(slice_id == k)
            .select(F.to_json(F.struct("doc_id", "text")).alias("v"))
            .collect()
        )
        with open(os.path.join(src, f"b{k}.ndjson"), "w") as f:
            for r in rows:
                f.write(r["v"] + "\n")

    led_post = os.path.join(tmp, "postings")
    led_stats = os.path.join(tmp, "stats")
    led_tot = os.path.join(tmp, "totals")
    for d in (led_post, led_stats, led_tot):
        os.makedirs(d)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def land(batch_df, _epoch):
        p = bm25_postings(batch_df).persist()
        p.write.mode("append").parquet(led_post)
        bm25_stats(p).write.mode("append").parquet(led_stats)
        p.unpersist()
        bm25_totals(batch_df).write.mode("append").parquet(led_tot)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one slice per micro-batch
        .json(src)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    post = (
        spark.read.schema("id long, dl long, tok string, tf long")
        .parquet(led_post)
        .groupBy("id", "dl", "tok")
        .agg(F.sum("tf").cast("long").alias("tf"))
    )
    stats = (
        spark.read.schema("tok string, df long")
        .parquet(led_stats)
        .groupBy("tok")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    totals = spark.read.schema("n_docs long, tot_tokens long").parquet(led_tot)
    queries = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_topk(None, queries, k=5, postings=post, stats=stats, totals=totals)


# the streaming fold must equal the one-shot build — the oracle IS the
# ad-hoc BM25 SQL (ops_queries does not import queries, so no cycle)
from .ops_queries import SQL_BM25 as SQL_STREAMING_POSTINGS  # noqa: E402


def q_streaming_bounds_e2e(spark, sf):
    """Streaming maintenance of the MaxScore BOUNDS statistic: each
    micro-batch appends its (tok, max_tf) frame to a fourth append-only
    ledger next to the postings/stats/totals ledgers; max_tf is a MAX
    monoid, so fold-at-read (groupBy-max) equals the one-shot build —
    the invariant PRUNING CORRECTNESS depends on under append-only
    growth (a stale-LOW bound would wrongly exclude a true top-k doc;
    the fold can only track the true max upward, never lag it). The
    result is the MaxScore-pruned probe over ALL FOUR folded ledgers,
    and the oracle is the exhaustive BM25 SQL: one green row pins the
    whole chain — ledger fold == rebuilt index AND pruned ==
    exhaustive on the folded statistics. Completes the streaming
    index-maintenance family: postings (r9), LM counts (r10), bounds."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from .ops.retrieval import (
        bm25_postings,
        bm25_pruned,
        bm25_stats,
        bm25_term_bounds,
        bm25_totals,
    )
    from .ops.sampling import hash_bucket

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="swarm_bounds_stream_")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)
    slice_id = hash_bucket("doc_id", "swarm-bounds-slice") % 4
    for k in range(4):
        rows = (
            docs.where(slice_id == k)
            .select(F.to_json(F.struct("doc_id", "text")).alias("v"))
            .collect()
        )
        with open(os.path.join(src, f"b{k}.ndjson"), "w") as f:
            for r in rows:
                f.write(r["v"] + "\n")

    led_post = os.path.join(tmp, "postings")
    led_stats = os.path.join(tmp, "stats")
    led_tot = os.path.join(tmp, "totals")
    led_bounds = os.path.join(tmp, "bounds")
    for d in (led_post, led_stats, led_tot, led_bounds):
        os.makedirs(d)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def land(batch_df, _epoch):
        p = bm25_postings(batch_df).persist()
        p.write.mode("append").parquet(led_post)
        bm25_stats(p).write.mode("append").parquet(led_stats)
        bm25_term_bounds(p).write.mode("append").parquet(led_bounds)
        p.unpersist()
        bm25_totals(batch_df).write.mode("append").parquet(led_tot)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one slice per micro-batch
        .json(src)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    post = (
        spark.read.schema("id long, dl long, tok string, tf long")
        .parquet(led_post)
        .groupBy("id", "dl", "tok")
        .agg(F.sum("tf").cast("long").alias("tf"))
    )
    stats = (
        spark.read.schema("tok string, df long")
        .parquet(led_stats)
        .groupBy("tok")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    totals = spark.read.schema("n_docs long, tot_tokens long").parquet(led_tot)
    bounds = (
        spark.read.schema("tok string, max_tf long")
        .parquet(led_bounds)
        .groupBy("tok")
        .agg(F.max("max_tf").cast("long").alias("max_tf"))
    )
    queries = docs.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return bm25_pruned(
        None, queries, k=5,
        postings=post, stats=stats, totals=totals, bounds=bounds,
    )


SQL_STREAMING_BOUNDS = SQL_STREAMING_POSTINGS


def q_streaming_cms_e2e(spark, sf):
    """Streaming frequency-sketch maintenance end-to-end: documents
    arrive as hash-sliced micro-batches; each batch APPENDS its token
    count-min sketch to an append-only ledger (cells are a SUM monoid,
    so append + sum-at-read equals the one-shot sketch CELL-EXACTLY —
    no read-modify-write on the stored statistic, no races, crash-safe
    replay). The merged grid itself is the result: <= depth·width rows
    the oracle recomputes one-shot. Closes the streaming-statistics
    family: digests, bitmaps, histograms, postings, frequencies."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from .ops.sampling import hash_bucket
    from .ops.sketch import cms_sketch
    from .ops.text import tokens_col

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="swarm_cms_stream_")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)
    slice_id = hash_bucket("doc_id", "swarm-cms-slice") % 4
    for k in range(4):
        rows = (
            docs.where(slice_id == k)
            .select(F.to_json(F.struct("doc_id", "text")).alias("v"))
            .collect()
        )
        with open(os.path.join(src, f"b{k}.ndjson"), "w") as f:
            for r in rows:
                f.write(r["v"] + "\n")

    ledger = os.path.join(tmp, "cells")
    os.makedirs(ledger)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def land(batch_df, _epoch):
        toks = batch_df.select(F.explode(tokens_col("text")).alias("tok"))
        cms_sketch(toks, "tok", width=512, depth=3).write.mode("append").parquet(
            ledger
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one slice per micro-batch
        .json(src)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return (
        spark.read.schema("row int, col int, cnt long")
        .parquet(ledger)
        .groupBy("row", "col")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .orderBy("row", "col")
    )


from .ops_queries import _WS as _ORACLE_WS  # noqa: E402
from .ops_queries import _cms_probe_sql as _cms_sql  # noqa: E402

SQL_STREAMING_CMS = f"""
WITH w AS ({_ORACLE_WS}),
t AS (SELECT unnest(ws) AS tok FROM w)
SELECT row, col, cast(count(*) AS bigint) AS cnt
FROM ({_cms_sql('tok', 't', 512, 3)})
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_streaming_hll_e2e(spark, sf):
    """Streaming cardinality-sketch maintenance end-to-end: documents
    arrive as hash-sliced micro-batches; each batch APPENDS its
    HyperLogLog register file to an append-only ledger (registers are a
    MAX monoid, so append + max-at-read equals the one-shot build
    REGISTER-EXACTLY — no read-modify-write, crash-safe replay; the r9
    VERDICT's one missing streaming statistic). The merged register
    file itself is the result: <= 2^p rows the oracle recomputes
    one-shot with the same md5 bit arithmetic. Completes the
    streaming-statistics family alongside the CMS frequency ledger
    (``streaming_cms_e2e``) and the linear-count bitmap
    (``streaming_sketch_e2e``)."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from .ops.dedup import doc_shingles
    from .ops.sampling import hash_bucket
    from .ops.sketch import hll_registers

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="swarm_hll_stream_")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)
    slice_id = hash_bucket("doc_id", "swarm-hll-slice") % 4
    for k in range(4):
        rows = (
            docs.where(slice_id == k)
            .select(F.to_json(F.struct("doc_id", "text")).alias("v"))
            .collect()
        )
        with open(os.path.join(src, f"b{k}.ndjson"), "w") as f:
            for r in rows:
                f.write(r["v"] + "\n")

    ledger = os.path.join(tmp, "regs")
    os.makedirs(ledger)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def land(batch_df, _epoch):
        sh = doc_shingles(batch_df, n=3)
        hll_registers(sh, "sh").write.mode("append").parquet(ledger)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one slice per micro-batch
        .json(src)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return (
        spark.read.schema("bucket long, rho int")
        .parquet(ledger)
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
        .orderBy("bucket")
    )


def q_streaming_lm_e2e(spark, sf):
    """Streaming language-model maintenance end-to-end: the trusted
    (lang=='en') documents arrive as hash-sliced micro-batches; each
    batch APPENDS its Stupid-Backoff count tables (``ops/lm.py``) to an
    append-only ledger (counts are a SUM monoid, so append +
    sum-at-read equals one-shot training COUNT-EXACTLY — no
    read-modify-write, crash-safe replay). The merged count table
    itself is the result; the oracle retrains one-shot. Extends the
    streaming-statistics family (digests, bitmaps, histograms,
    postings, frequencies, cardinality) with its first MODEL: the
    reference LM a perplexity-filter deployment keeps warm as waves of
    trusted text land."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from .ops.lm import lm_train
    from .ops.sampling import hash_bucket

    docs = (
        load_table(spark, sf, "documents")
        .where(F.col("lang") == "en")
        .select("doc_id", "text")
    )
    tmp = tempfile.mkdtemp(prefix="swarm_lm_stream_")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)
    slice_id = hash_bucket("doc_id", "swarm-lm-slice") % 4
    for k in range(4):
        rows = (
            docs.where(slice_id == k)
            .select(F.to_json(F.struct("doc_id", "text")).alias("v"))
            .collect()
        )
        with open(os.path.join(src, f"b{k}.ndjson"), "w") as f:
            for r in rows:
                f.write(r["v"] + "\n")

    ledger = os.path.join(tmp, "counts")
    os.makedirs(ledger)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def land(batch_df, _epoch):
        lm_train(batch_df).write.mode("append").parquet(ledger)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one slice per micro-batch
        .json(src)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return (
        spark.read.schema("ctx string, tok string, cnt long")
        .parquet(ledger)
        .groupBy("ctx", "tok")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .orderBy(F.col("ctx").asc_nulls_first(), "tok")
    )


# one-shot retrain on the same trusted slice — sum-at-read over the
# ledger must reproduce it count-exactly (ORDER BY pins NULLS FIRST:
# Spark's asc default, not DuckDB's)
SQL_STREAMING_LM = """
WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, ' +'),
                                      t -> length(t) > 0) AS ws
           FROM documents WHERE lang = 'en'),
uni AS (SELECT cast(NULL AS varchar) AS ctx, tok,
               cast(count(*) AS bigint) AS cnt
        FROM (SELECT unnest(ws) AS tok FROM w) GROUP BY tok),
pairsrc AS (SELECT ws, unnest(range(len(ws) - 1)) AS i FROM w),
bi AS (SELECT ws[i + 1] AS ctx, ws[i + 2] AS tok,
              cast(count(*) AS bigint) AS cnt
       FROM pairsrc GROUP BY 1, 2)
SELECT ctx, tok, cnt
FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
ORDER BY ctx NULLS FIRST, tok
"""


from .ops_queries import _hexval as _hexval_sql  # noqa: E402
from .ops_queries import _shingle_cte as _shingle_sql  # noqa: E402

SQL_STREAMING_HLL = f"""
WITH {_shingle_sql(3)},
rr AS (SELECT {_hexval_sql('h', 1, 3)} AS bucket,
              CASE WHEN {_hexval_sql('h', 4, 12)} = 0 THEN 49
                   ELSE 49 - length(bin({_hexval_sql('h', 4, 12)})) END AS rho
       FROM (SELECT md5('swarm-hll|' || sh) AS h FROM s))
SELECT cast(bucket AS bigint) AS bucket, cast(max(rho) AS int) AS rho
FROM rr GROUP BY 1 ORDER BY 1
"""


def _time_sliced_src(df, cols_json, tmp, slices=3, sentinel_rows=()):
    """Write ``df`` as ``slices`` contiguous event-time NDJSON files
    (plus sentinel files) under ``tmp``/incoming — deterministic
    micro-batch replay: slices are contiguous in ``ts``, so no event is
    watermark-late and results are a pure function of the data."""
    import os

    lo, hi = df.agg(F.min("ts"), F.max("ts")).head()
    span = hi - lo
    src = os.path.join(tmp, "incoming")
    os.makedirs(src, exist_ok=True)

    def dump(frame, name):
        rows = frame.select(F.to_json(F.struct(*cols_json)).alias("v")).collect()
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(r["v"] + "\n")

    bounds = [lo + span * k / slices for k in range(1, slices)]
    prev = None
    for k, b in enumerate([*bounds, None]):
        part = df
        if prev is not None:
            part = part.where(F.col("ts") > prev)
        if b is not None:
            part = part.where(F.col("ts") <= b)
        dump(part, f"b{k}.ndjson")
        prev = b
    for i, frame in enumerate(sentinel_rows):
        dump(frame, f"s{i}.ndjson")
    return src


_TS_MICROS = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def q_streaming_window_e2e(spark, sf):
    """Streaming tumbling-window aggregation end-to-end: the events
    table replays as contiguous time-sliced micro-batches through a
    watermarked ``groupBy(window, event_type)`` in APPEND mode — each
    window row emits exactly once, when the watermark passes its end.
    A far-future sentinel (plus a flush batch) closes every real
    window; the emitted rows must hash-equal the batch
    ``window_hourly`` computation — the built-in stateful-aggregation
    counterpart of the custom-state `streaming_sessionize_e2e`.
    """
    import os
    import tempfile

    from pyspark.sql import types as T

    ev = load_table(spark, sf, "events").select("ts", "event_type", "value")
    mx = ev.agg(F.max("ts")).head()[0]
    tmp = tempfile.mkdtemp(prefix="swarm_swin_")
    sentinel = spark.createDataFrame(
        [("__sentinel__", 0.0, mx)], "event_type string, value double, ts timestamp"
    ).select(
        (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"), "event_type", "value"
    )
    sentinel2 = sentinel.select(
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"), "event_type", "value"
    )
    cols = [
        F.date_format("ts", _TS_MICROS).alias("ts"),
        "event_type",
        "value",
    ]
    src = _time_sliced_src(ev, cols, tmp, slices=3, sentinel_rows=[sentinel, sentinel2])

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    target = os.path.join(tmp, "windows")
    os.makedirs(target)

    def sink(batch_df, _epoch):
        batch_df.write.mode("append").parquet(target)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .withWatermark("ts", "10 minutes")
        # group by the window STRUCT (not .start) — extracting the
        # field pre-aggregation severs the event-time/watermark link
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(F.col("w").getField("start").alias("bucket"), "event_type", "n", "value_cents")
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return (
        spark.read.schema("bucket timestamp, event_type string, n long, value_cents long")
        .parquet(target)
        .where(F.col("event_type") != "__sentinel__")
        .orderBy("bucket", "event_type")
    )


def q_streaming_sessionize_e2e(spark, sf):
    """Streaming gap sessionization end-to-end: the events table
    arrives as three TIME-SLICED micro-batches (slices are contiguous
    in event time, so nothing is watermark-late) through the
    applyInPandasWithState sessionizer; a far-future sentinel batch
    plus one flush batch advance the watermark so every real session
    CLOSES. The emitted sessions must equal the batch gaps-and-islands
    computation — the oracle — proving the unbounded-stream form and
    the batch form implement the same semantics, including sessions
    that straddle micro-batch boundaries.
    """
    import os
    import tempfile

    from pyspark.sql import types as T

    from .streaming.stateful import sessionize_stream

    ev = load_table(spark, sf, "events").select("user_id", "ts")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    span = hi - lo
    q1 = lo + span / 3
    q2 = lo + 2 * span / 3
    mx = hi
    tmp = tempfile.mkdtemp(prefix="swarm_sess_")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)

    def dump(frame, name):
        rows = frame.select(
            F.to_json(
                F.struct(
                    "user_id",
                    # full micros precision: the oracle sessions the
                    # original event times
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
                )
            ).alias("v")
        ).collect()
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(r["v"] + "\n")

    dump(ev.where(F.col("ts") <= q1), "b0.ndjson")
    dump(ev.where((F.col("ts") > q1) & (F.col("ts") <= q2)), "b1.ndjson")
    dump(ev.where(F.col("ts") > q2), "b2.ndjson")
    sentinel = spark.createDataFrame(
        [(10**9, mx)], "user_id long, ts timestamp"
    ).select("user_id", (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"))
    dump(sentinel, "b3.ndjson")
    dump(
        sentinel.select("user_id", (F.col("ts") + F.expr("INTERVAL 1 MINUTE")).alias("ts")),
        "b4.ndjson",
    )

    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )
    target = os.path.join(tmp, "sessions")
    os.makedirs(target)

    def sink(batch_df, _epoch):
        batch_df.write.mode("append").parquet(target)

    prev_ndmb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        q = (
            sessionize_stream(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .json(src),
                gap_s=1800,
                watermark="10 minutes",
            )
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
    finally:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb)
    return (
        spark.read.schema(
            "user_id long, session_start timestamp, session_end timestamp, n_events long"
        )
        .parquet(target)
        .where(F.col("user_id") < 10**9)  # sentinel's session stays open anyway
        .orderBy("user_id", "session_start")
    )


SQL_WINDOW_STREAM = """
SELECT cast(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS bucket, event_type,
       count(*) AS n,
       cast(sum(cast(round(value * 100) AS bigint)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


SQL_STREAMING_SESSIONIZE = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM o)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       cast(count(*) AS bigint) AS n_events
FROM s GROUP BY user_id, sess ORDER BY user_id, session_start
"""


def q_streaming_exactsubstr_e2e(spark, sf):
    """Streaming ExactSubstr-ledger maintenance end-to-end: documents
    arrive as hash-sliced micro-batches; each batch APPENDS its
    per-gram window stats (earliest (doc_id, pos) + count,
    ``ops/curation.py::exactsubstr_window_stats``) to an append-only
    ledger. First-occurrence is a MIN monoid and count a SUM monoid,
    so append + fold-at-read equals the one-shot statistic EXACTLY —
    the table :func:`exactsubstr_cut_wave` cuts each arriving wave
    against without rescanning the stored corpus. The folded ledger
    itself is the result; the oracle recomputes it one-shot."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from .ops.curation import exactsubstr_window_stats
    from .ops.sampling import hash_bucket

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="swarm_xs_stream_")
    src = os.path.join(tmp, "incoming")
    os.makedirs(src)
    slice_id = hash_bucket("doc_id", "swarm-xs-slice") % 4
    for k in range(4):
        rows = (
            docs.where(slice_id == k)
            .select(F.to_json(F.struct("doc_id", "text")).alias("v"))
            .collect()
        )
        with open(os.path.join(src, f"b{k}.ndjson"), "w") as f:
            for r in rows:
                f.write(r["v"] + "\n")

    ledger = os.path.join(tmp, "winstats")
    os.makedirs(ledger)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def land(batch_df, _epoch):
        exactsubstr_window_stats(batch_df, min_len=8).write.mode("append").parquet(
            ledger
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one slice per micro-batch
        .json(src)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return (
        spark.read.schema("g string, first_id long, first_p long, cnt long")
        .parquet(ledger)
        .groupBy("g")
        .agg(
            F.min(
                F.struct(
                    F.col("first_id").alias("id"), F.col("first_p").alias("p")
                )
            ).alias("first"),
            F.sum("cnt").cast("long").alias("cnt"),
        )
        .select(
            "g",
            F.col("first.id").alias("first_id"),
            F.col("first.p").alias("first_p"),
            "cnt",
        )
        .orderBy("g")
    )


# one-shot window stats over the same corpus — min/sum-at-read over
# the per-batch ledger must reproduce them exactly
SQL_STREAMING_EXACTSUBSTR = """
WITH w AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS ws
           FROM documents),
win AS (SELECT doc_id, i AS p, md5(array_to_string(ws[i:i+7], ' ')) AS g
        FROM w, unnest(generate_series(1, len(ws) - 7)) t(i)
        WHERE len(ws) >= 8),
r AS (SELECT g, doc_id, p,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn,
             count(*) OVER (PARTITION BY g) AS c
      FROM win)
SELECT g, doc_id AS first_id, p AS first_p, cast(c AS bigint) AS cnt
FROM r WHERE rn = 1 ORDER BY g
"""


CORE: dict[str, tuple[Callable, str | None]] = {
    "streaming_exactsubstr_e2e": (
        q_streaming_exactsubstr_e2e,
        SQL_STREAMING_EXACTSUBSTR,
    ),
    "streaming_dedup_e2e": (q_streaming_dedup_e2e, SQL_STREAMING_DEDUP),
    "streaming_sketch_e2e": (q_streaming_sketch_e2e, SQL_STREAMING_SKETCH),
    "streaming_quantiles_e2e": (q_streaming_quantiles_e2e, SQL_STREAMING_QUANTILES),
    "streaming_postings_e2e": (q_streaming_postings_e2e, SQL_STREAMING_POSTINGS),
    "streaming_bounds_e2e": (q_streaming_bounds_e2e, SQL_STREAMING_BOUNDS),
    "streaming_cms_e2e": (q_streaming_cms_e2e, SQL_STREAMING_CMS),
    "streaming_hll_e2e": (q_streaming_hll_e2e, SQL_STREAMING_HLL),
    "streaming_lm_e2e": (q_streaming_lm_e2e, SQL_STREAMING_LM),
    "streaming_sessionize_e2e": (q_streaming_sessionize_e2e, SQL_STREAMING_SESSIONIZE),
    "streaming_window_e2e": (q_streaming_window_e2e, SQL_WINDOW_STREAM),
    "s1_scan_count": (q_s1_scan_count, SQL_S1),
    "s3_prefix_filter": (q_s3_prefix_filter, SQL_S3),
    "r1_event_rule_filter": (q_r1_event_rule_filter, SQL_R1),
    "r2_projection": (q_r2_projection, SQL_R2_PROJ),
    "r2_fanout_join": (q_r2_fanout_join, SQL_R2_FANOUT),
    "r3_validation": (q_r3_validation, SQL_R3),
    "t1_null_strip": (q_t1_null_strip, SQL_T1),
    "t2_deterministic_id": (q_t2_deterministic_id, SQL_T2),
    "t3_timestamp_build": (q_t3_timestamp_build, SQL_T3),
    "q5_partition_derivation": (q_q5_partition_derivation, SQL_Q5),
    "g1_group_by_destination": (q_g1_group_by_destination, SQL_G1),
    "g2_chunking": (q_g2_chunking, SQL_G2),
    "q2_schema_merge_union": (q_q2_schema_merge_union, SQL_Q2),
    "x1_dedup_by_id": (q_x1_dedup_by_id, SQL_X1),
    "e1_size_batching": (q_e1_size_batching, SQL_E1),
    "m1_sql_passthrough": (q_m1_sql_passthrough, SQL_M1),
    "pipeline_ingest_e2e": (q_pipeline_ingest_e2e, SQL_PIPELINE_E2E),
    "serve_pubsub_e2e": (q_serve_pubsub_e2e, SQL_SERVE_E2E),
    "streaming_ingest_e2e": (q_streaming_ingest_e2e, SQL_STREAMING_E2E),
}


def all_queries() -> dict[str, tuple[Callable, str | None]]:
    """CORE ingestion-dataflow + LLM-pipeline + classical operators, in
    registration order (the driver-window order lives in
    ``__spark_entry__.py``)."""
    from .classical_queries import CLASSICAL
    from .ops_queries import OPS

    return {**CORE, **OPS, **CLASSICAL}
