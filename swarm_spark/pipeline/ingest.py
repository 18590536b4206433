"""Batch ingest pipeline (reference query lifecycle §3.2, SURVEY.md §3).

Dataflow, expressed Spark-first::

    objects ──R1──▶ LoadRequests ──group by Source──▶ spark.read.json
       (driver)        (driver)        (ONE read per rule config,
                                        all matched files at once)
        ──R2──▶ routed Log frame (lenient R3: violating rows filtered)
        ──T2/T3/T4──▶ envelope (id, ingest_id, timestamp, ingested_at, data)
                      + strict R3 violation flag
        ──persist──▶ destination plan: ONE grouped aggregate by
                     (dataset, table, partition) → per destination the
                     row count, every data leaf's non-void count, and
                     the R3 violations (strict: any → raise, no write)
        ──G1──▶ loop over the planned destinations
        ──T1──▶ data struct rebuilt from the plan's kept leaves (no job)
        ──Q1/Q2/Q4──▶ sink.ensure_table (strict merge / evolve)
        ──W1──▶ sink.append (aligned to evolved schema; one write job,
                             row count observed on it)
        ──W6──▶ load-log metadata row

Scale notes (100 TB):
- Routing happens on metadata BEFORE any read (early filter, SURVEY §4)
  — unmatched objects are never opened.
- One ``spark.read.json`` per distinct Source config, not per object:
  a million matched files become one distributed scan with full-scan
  inference, not a million jobs.
- The transformed frame is persisted, and a load of N destinations
  costs one scan + one plan aggregate + N writes. The plan does every
  per-destination check at once (strict validation, destination
  discovery, void-field stripping) and each write counts its own rows,
  so the number of jobs no longer grows with checks × destinations. Its output is one small
  row per destination: the routing columns are low-cardinality by
  construction (table names).
- Per-record work (explode fan-out, struct rebuild, md5 id) is all
  Catalyst expressions — whole-stage codegen, no Python in the row
  path (the canonical-id pandas UDF is opt-in).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..functions.ids import canonical_id_column, fast_id_column
from ..functions.timeutils import timestamp_from_unix
from ..model import LoadRequest, ModelError, ObjectMeta, Source, TableDest
from ..rules.event import EventRuleSet
from ..rules.schema_rule import (
    SchemaRuleRegistry,
    invalid_output_error,
    output_violation,
    validate_output,
)
from ..schema.strip import kept_leaves, leaf_counts, strip_struct_column
from ..sinks.base import Sink
from ..sources.jsonsrc import read_objects

META_DEST = TableDest("swarm", "load_log")
# Strict mode: per-row R3 violation flag the envelope carries into the
# destination plan (the raw timestamp it tests is gone after enveloping)
VIOLATION_COL = "_violation"


class IngestPartialFailure(RuntimeError):
    """Some destinations failed; the rest were still written.

    Carries the stats (successful rows per destination) and the
    per-destination exceptions — the caller decides whether the
    successful part stands (it is already durable; content-hash ids
    make a retry of the whole batch idempotent downstream)."""

    def __init__(self, stats: "IngestStats", errors: list):
        self.stats = stats
        self.dest_errors = errors
        summary = "; ".join(f"{d.dataset}.{d.table}: {e}" for d, e in errors)
        super().__init__(f"{len(errors)} destination(s) failed: {summary}")


@dataclass
class IngestStats:
    ingest_id: str
    objects: int = 0
    sources: int = 0
    rows_by_dest: dict[tuple, int] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    started_at: float = 0.0
    finished_at: float = 0.0

    @property
    def total_rows(self) -> int:
        return sum(self.rows_by_dest.values())


@dataclass(frozen=True)
class DestPlan:
    """One destination of a load, as the plan aggregate found it."""

    dest: TableDest
    rows: int
    keep: frozenset[str]  # data leaves (``data.a.b``) set in some row


def plan_destinations(enveloped: DataFrame) -> list[DestPlan]:
    """The destination plan: one grouped aggregate over the enveloped
    frame, keyed by ``(dataset, table, partition)``, that returns per
    destination its row count, the non-void count of every ``data``
    leaf (:func:`~swarm_spark.schema.strip.leaf_counts`) and, when the
    frame carries :data:`VIOLATION_COL`, its R3 violations. The sinks
    report the rows they wrote from their own write jobs; ``rows`` is
    what the plan saw routed to each destination.

    Raises :class:`~swarm_spark.rules.schema_rule.RuleOutputError` when
    any row violates R3, before the caller writes anything; the sample
    query runs only then. Destinations come back sorted."""
    keys = ["dataset", "table", "partition"]
    counts = leaf_counts(enveloped.schema["data"].dataType, prefix="data.")
    aggs = [F.count(F.lit(1)).alias("rows"), *[c for _, c in counts]]
    checked = VIOLATION_COL in enveloped.columns
    if checked:
        aggs.append(F.count(F.when(F.col(VIOLATION_COL), 1)).alias("violations"))
    found = enveloped.groupBy(*keys).agg(*aggs).collect()
    if checked and sum(r["violations"] for r in found):
        raise invalid_output_error(enveloped.where(F.col(VIOLATION_COL)).drop(VIOLATION_COL))
    plans = [
        DestPlan(
            TableDest(r["dataset"], r["table"], r["partition"]),
            r["rows"],
            frozenset(kept_leaves(counts, r)),
        )
        for r in found
    ]
    return sorted(plans, key=lambda p: (p.dest.dataset, p.dest.table, p.dest.partition))


class IngestPipeline:
    def __init__(
        self,
        spark: SparkSession,
        event_rules: EventRuleSet,
        schema_rules: SchemaRuleRegistry,
        sink: Sink,
        id_mode: str = "fast",  # "fast" (JVM md5) | "canonical" (Go-parity)
        strict: bool = True,
        write_load_log: bool = False,
        json_mode: str = "lines",
        atomic: bool = False,
        merge: bool = False,
    ):
        if id_mode not in ("fast", "canonical"):
            raise ModelError(f"id_mode must be fast|canonical, got {id_mode!r}")
        if atomic and not hasattr(sink, "transaction"):
            raise ModelError(f"sink {type(sink).__name__} has no transactional mode")
        if merge and atomic:
            raise ModelError("merge mode and atomic batches are mutually exclusive")
        if merge and not hasattr(sink, "merge_by_id"):
            raise ModelError(f"sink {type(sink).__name__} has no merge_by_id")
        self.spark = spark
        self.event_rules = event_rules
        self.schema_rules = schema_rules
        self.sink = sink
        self.id_mode = id_mode
        self.strict = strict
        self.write_load_log = write_load_log
        self.json_mode = json_mode
        self.atomic = atomic
        self.merge = merge

    # -- R1: object routing (driver-side; see EventRuleSet.route_listing
    #    for the distributed variant used by backfills) ----------------
    def route(self, objs: list[ObjectMeta]) -> list[LoadRequest]:
        reqs: list[LoadRequest] = []
        for o in objs:
            for s in self.event_rules.match(o, strict=self.strict):
                reqs.append(LoadRequest(o, s))
        return reqs

    # -- transform one Source group into the routed Log frame ----------
    def _transform_group(self, source: Source, paths: list[str]) -> DataFrame | None:
        raw = read_objects(self.spark, paths, parser=source.parser, mode=self.json_mode)
        if not raw.schema.fields:
            # zero parseable records in the whole group (e.g. empty
            # objects): nothing to transform — mirror the reference's
            # graceful zero-log result, and don't hand the rule an
            # empty-schema relation (bare names would resolve to
            # zero-arg SQL functions like current_user there)
            return None
        return self._checked(self.schema_rules.get(source.schema).apply(raw))

    def _checked(self, logs: DataFrame) -> DataFrame:
        """R3 on a rule's output. Lenient mode drops violating rows here
        (no job); strict mode leaves them for the destination plan,
        which counts them with the writes' other checks."""
        return logs if self.strict else validate_output(logs, strict=False)

    def _envelope(self, logs: DataFrame, ingest_id: str) -> DataFrame:
        data_type = logs.schema["data"].dataType
        content_id = (
            fast_id_column("data", data_type)
            if self.id_mode == "fast"
            else canonical_id_column("data", data_type)
        )
        flag = [output_violation().alias(VIOLATION_COL)] if self.strict else []
        return logs.select(
            F.col("dataset"),
            F.col("table"),
            F.col("partition"),
            F.coalesce(F.col("id"), content_id).alias("id"),
            F.lit(ingest_id).alias("ingest_id"),
            timestamp_from_unix(F.col("timestamp")).alias("timestamp"),
            F.current_timestamp().alias("ingested_at"),
            F.col("data"),
            *flag,
        )

    def envelope_objects(self, objs: list[ObjectMeta]) -> DataFrame | None:
        """Route + transform + envelope, unvalidated and unwritten: one
        union across source groups. In strict mode the frame carries
        :data:`VIOLATION_COL` for :func:`plan_destinations` to check."""
        reqs = self.route(objs)
        by_source: dict[Source, list[str]] = {}
        for r in reqs:
            by_source.setdefault(r.source, []).append(r.obj.url)
        frames = []
        for source, paths in by_source.items():
            logs = self._transform_group(source, paths)
            if logs is not None:
                frames.append(self._envelope(logs, "dry"))
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def transform_objects(self, objs: list[ObjectMeta]) -> DataFrame | None:
        """Route + transform + envelope WITHOUT writing: the routed,
        validated Log frame as a DataFrame (one union across source
        groups). Useful for dry inspection and correctness harnesses;
        ``load_objects`` is this plus the per-destination evolve/append.
        Strict mode probes the union once for a violating row."""
        out = self.envelope_objects(objs)
        if out is None or not self.strict:
            return out
        violating = out.where(F.col(VIOLATION_COL)).drop(VIOLATION_COL)
        if violating.limit(1).count():
            raise invalid_output_error(violating)
        return out.drop(VIOLATION_COL)

    def load_objects(self, objs: list[ObjectMeta]) -> IngestStats:
        stats = IngestStats(ingest_id=uuid.uuid4().hex, started_at=time.time())
        stats.objects = len(objs)
        reqs = self.route(objs)
        stats.sources = len(reqs)

        by_source: dict[Source, list[str]] = {}
        for r in reqs:
            by_source.setdefault(r.source, []).append(r.obj.url)

        # atomic=True: ONE transaction spans every source group, so a
        # failure in any later group aborts the earlier groups' staged
        # slices too — the all-or-nothing contract is the whole batch,
        # not per group
        txn = self.sink.transaction() if self.atomic else None
        # With a batch-spanning txn, per-group staged counts accumulate
        # here and fold into stats only AFTER the commit succeeds: if a
        # later source group fails, the txn aborts and the
        # IngestPartialFailure's stats must not report rows for
        # destinations that never became visible.
        pending: dict[tuple, int] = {}
        for source, paths in by_source.items():
            logs = self._transform_group(source, paths)
            if logs is None:
                continue
            enveloped = self._envelope(logs, stats.ingest_id)
            staged = self._write_routed(enveloped, stats, txn=txn)
            for key, n in staged.items():
                pending[key] = pending.get(key, 0) + n
        if txn is not None:
            txn.commit()
            for key, n in pending.items():
                stats.rows_by_dest[key] = stats.rows_by_dest.get(key, 0) + n

        stats.finished_at = time.time()
        if self.write_load_log:
            self._append_load_log(stats)
        return stats

    def ingest_frame(self, raw: DataFrame, schema_name: str) -> IngestStats:
        """Run an already-materialized record frame through one schema
        rule and the routed write — the ``foreachBatch`` entry point
        for Structured Streaming (each microbatch frame lands here)."""
        stats = IngestStats(ingest_id=uuid.uuid4().hex, started_at=time.time())
        if raw.schema.fields:
            logs = self._checked(self.schema_rules.get(schema_name).apply(raw))
            self._write_routed(self._envelope(logs, stats.ingest_id), stats)
        stats.finished_at = time.time()
        if self.write_load_log:
            self._append_load_log(stats)
        return stats

    # -- plan + G1 + Q1/Q2/Q4 + W1: per-destination evolve + append ----
    def _write_routed(
        self, enveloped: DataFrame, stats: IngestStats, txn=None
    ) -> dict[tuple, int]:
        """Per-destination evolve+append.

        The persisted frame first goes through :func:`plan_destinations`,
        the one job that finds the destinations and their void ``data``
        leaves and, in strict mode, raises ``RuleOutputError`` before any
        write when a row breaks R3. Each destination's ``data`` struct
        is then rebuilt from the plan's kept leaves without a job, and
        its append is its one write job.

        Default mode: PARTIAL-failure tolerance — one bad destination
        (schema conflict, sink failure) never blocks the others; its
        error is recorded per-ingest and surfaced after every
        destination has been attempted (reference semantics,
        load.go:100-130: per-table goroutines report errors
        independently).

        ``atomic=True``: all destination slices stage in a sink
        transaction; any failure aborts it and no rows become visible
        (see TableTransaction — schema evolution is still applied
        eagerly, which is harmless because the merge is monotonic/
        additive). When the caller passes an open ``txn`` (load_objects
        spans one across all source groups), this call only STAGES into
        it and the caller commits once; otherwise the transaction is
        opened and committed here.

        Returns the per-destination staged row counts. They are merged
        into ``stats.rows_by_dest`` here ONLY when this call made the
        rows visible itself (direct append, or own transaction
        committed); with a caller-owned txn the counts are returned
        un-merged and the caller folds them in after ITS commit, so an
        aborted batch never reports rows for invisible destinations."""
        enveloped = enveloped.persist()
        errors: list[tuple[TableDest, Exception]] = []
        own_txn = txn is None and self.atomic
        if own_txn:
            txn = self.sink.transaction()
        staged: dict[tuple, int] = {}
        try:
            for plan in plan_destinations(enveloped):
                dest = plan.dest
                batch = enveloped.where(
                    (F.col("dataset") == dest.dataset)
                    & (F.col("table") == dest.table)
                    & (F.col("partition") == dest.partition)
                ).select("id", "ingest_id", "timestamp", "ingested_at", "data")
                try:
                    # T1: per-destination-batch void pruning before inference
                    batch = strip_struct_column(batch, "data", keep=plan.keep)
                    merged = self.sink.ensure_table(dest, batch.schema["data"].dataType)
                    aligned = self._align_data(batch, merged)
                    if txn is not None:
                        n = txn.stage(dest, aligned)
                    elif self.merge:
                        # id-upsert re-ingest: corrected objects replace
                        # their previous rows (partition-scoped rewrite)
                        n = self.sink.merge_by_id(dest, aligned)["rows_in"]
                    else:
                        n = self.sink.append(dest, aligned)
                except Exception as e:  # noqa: BLE001 — recorded, surfaced below
                    errors.append((dest, e))
                    stats.errors.append(f"{dest.dataset}.{dest.table}: {e}")
                    if txn is not None:  # all-or-nothing: first error aborts
                        txn.abort()
                        raise IngestPartialFailure(stats, errors) from e
                    continue
                key = (dest.dataset, dest.table, dest.partition)
                staged[key] = staged.get(key, 0) + n
            if own_txn:
                txn.commit()
            if txn is None or own_txn:  # rows are visible: report them
                for key, n in staged.items():
                    stats.rows_by_dest[key] = stats.rows_by_dest.get(key, 0) + n
        finally:
            enveloped.unpersist()
        if errors and self.strict and txn is None:
            dest, first = errors[0]
            raise IngestPartialFailure(stats, errors) from first
        return staged

    def _align_data(self, batch: DataFrame, merged_data: T.StructType) -> DataFrame:
        from ..schema.infer import _align_expr  # aligned struct projection

        src_type = batch.schema["data"].dataType
        return batch.select(
            "id",
            "ingest_id",
            "timestamp",
            "ingested_at",
            _align_expr(F.col("data"), src_type, merged_data).alias("data"),
        )

    # -- W6: run-metadata table ----------------------------------------
    def _append_load_log(self, stats: IngestStats) -> None:
        schema = T.StructType(
            [
                T.StructField("ingest_id", T.StringType()),
                T.StructField("started_at", T.TimestampType()),
                T.StructField("finished_at", T.TimestampType()),
                T.StructField("objects", T.LongType()),
                T.StructField("sources", T.LongType()),
                T.StructField("total_rows", T.LongType()),
                T.StructField(
                    "ingests",
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField("dataset", T.StringType()),
                                T.StructField("table", T.StringType()),
                                T.StructField("partition", T.StringType()),
                                T.StructField("rows", T.LongType()),
                            ]
                        )
                    ),
                ),
            ]
        )
        import datetime as dt

        row = (
            stats.ingest_id,
            dt.datetime.fromtimestamp(stats.started_at, dt.timezone.utc),
            dt.datetime.fromtimestamp(stats.finished_at, dt.timezone.utc),
            stats.objects,
            stats.sources,
            stats.total_rows,
            [(d[0], d[1], d[2], n) for d, n in sorted(stats.rows_by_dest.items())],
        )
        df = self.spark.createDataFrame([row], schema)
        meta = df.select(
            F.lit(None).cast("string").alias("id"),
            F.col("ingest_id"),
            F.col("started_at").alias("timestamp"),
            F.current_timestamp().alias("ingested_at"),
            F.struct(
                "started_at", "finished_at", "objects", "sources", "total_rows", "ingests"
            ).alias("data"),
        )
        merged = self.sink.ensure_table(META_DEST, meta.schema["data"].dataType)
        self.sink.append(META_DEST, self._align_data(meta, merged))
