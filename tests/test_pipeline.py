"""End-to-end ingest pipeline tests.

Mirrors the reference's TestLoadData
(/root/reference/pkg/usecase/load_test.go:54-128): a CloudTrail-style
envelope object flows through event rules → schema rule (Records[_]
fan-out) → envelope → evolving table, asserting row counts, exact ids,
and the stripped/evolved schema. The fixture is synthesized here from
the field inventory in FIXTURES.md F2 (not copied from the reference).
"""

from __future__ import annotations

import gzip
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from swarm_spark.model import ObjectMeta, Source, TableDest
from swarm_spark.pipeline import IngestPipeline, META_DEST
from swarm_spark.rules import (
    EventRule,
    EventRuleSet,
    NoRuleMatchError,
    SchemaRuleRegistry,
    bucket,
    name_prefix,
    name_suffix,
    rule_output,
)
from swarm_spark.sinks import DumpSink, TableSink

EVENT_IDS = [
    "ac3cfd93-435d-41cc-bbd7-aad0340ec668",
    "18e67b09-94a3-4b5c-9b3a-cd549b3341fb",
    "dbb28938-5ed4-4774-8bb6-82ea916b21bb",
    "d4dacb9d-9822-4217-b88d-d334bde89755",
]


def make_cloudtrail_record(i: int, event_id: str) -> dict:
    rec = {
        "eventVersion": "1.07",
        "userIdentity": {"type": "AWSService", "invokedBy": "cloudtrail"},
        "eventTime": f"2020-03-02T23:55:5{i}Z",
        "eventSource": "s3.test",
        "eventName": "PutObject",
        "awsRegion": "ap-northeast-1",
        "sourceIPAddress": "cloudtrail.test",
        "userAgent": "cloudtrail.test",
        "requestParameters": {
            "bucketName": f"bucket-{i}",
            "Host": "s3.test",
            "key": f"objects/{i}.json.gz",
        },
        "responseElements": None,  # stripped before inference (T1)
        "additionalEventData": {
            "SignatureVersion": "SigV4",
            "bytesTransferredIn": 1024.5 + i,
            "bytesTransferredOut": 0.0,
        },
        "requestID": f"REQ{i}",
        "eventID": event_id,
        "readOnly": False,
        "eventType": "AwsApiCall",
        "managementEvent": False,
        "recipientAccountId": "123456789012",
        "eventCategory": "Data",
    }
    if i > 0:  # heterogeneous array: first element lacks accountId (F2)
        rec["resources"] = [
            {"type": "AWS::S3::Object", "ARN": f"arn:aws:s3:::b/{i}"},
            {"accountId": "123456789012", "type": "AWS::S3::Bucket", "ARN": "arn:aws:s3:::b"},
        ]
    else:
        rec["resources"] = [{"type": "AWS::S3::Object", "ARN": "arn:aws:s3:::b/0"}]
    return rec


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("objects")
    doc = {"Records": [make_cloudtrail_record(i, eid) for i, eid in enumerate(EVENT_IDS)]}
    plain = d / "cloudtrail_example.json"
    plain.write_text(json.dumps(doc))
    gz = d / "cloudtrail_example2.json.gz"
    with gzip.open(gz, "wt") as f:
        f.write(json.dumps(doc))
    return str(plain), str(gz)


def make_rules():
    rules = SchemaRuleRegistry()

    @rules.rule("cloudtrail")
    def cloudtrail(df):
        rec = df.select(F.explode("Records").alias("r"))
        return rule_output(
            rec,
            dataset="my_dataset",
            table="cloudtrail",
            partition="month",
            id=F.col("r.eventID"),
            timestamp=F.to_timestamp("r.eventTime").cast("double"),
            data=F.col("r"),
        )

    events = EventRuleSet(
        [
            EventRule(
                "cloudtrail-logs",
                bucket("my-bucket") & name_suffix(".json"),
                (Source(schema="cloudtrail"),),
            ),
            EventRule(
                "cloudtrail-logs-gz",
                bucket("my-bucket") & name_suffix(".json.gz"),
                (Source(schema="cloudtrail", compress="gzip"),),
            ),
        ]
    )
    return events, rules


class TestIngestE2E:
    @pytest.fixture(scope="class")
    def result(self, spark, fixture_paths, tmp_path_factory):
        wh = str(tmp_path_factory.mktemp("warehouse"))
        events, rules = make_rules()
        sink = TableSink(spark, wh)
        pipe = IngestPipeline(
            spark, events, rules, sink, json_mode="whole", write_load_log=True
        )
        objs = [
            ObjectMeta(bucket="my-bucket", name="a.json", path=fixture_paths[0]),
            ObjectMeta(bucket="my-bucket", name="b.json.gz", path=fixture_paths[1]),
        ]
        stats = pipe.load_objects(objs)
        return sink, stats

    def test_counts(self, result):
        sink, stats = result
        # 2 objects × 4 records (load_test.go asserts 4 per object)
        assert stats.objects == 2
        assert stats.total_rows == 8
        assert stats.rows_by_dest == {("my_dataset", "cloudtrail", "month"): 8}

    def test_exact_ids(self, result, spark):
        sink, _ = result
        df = sink.read_table(TableDest("my_dataset", "cloudtrail", "month"))
        got = [r["id"] for r in df.orderBy("timestamp").collect()]
        # each object contributes the same 4 eventIDs, ordered by eventTime
        assert got == [i for eid in EVENT_IDS for i in [eid, eid]]

    def test_envelope_schema(self, result):
        sink, _ = result
        df = sink.read_table(TableDest("my_dataset", "cloudtrail", "month"))
        assert df.columns == ["id", "ingest_id", "timestamp", "ingested_at", "data"]
        data = df.schema["data"].dataType
        names = [f.name for f in data.fields]
        assert "responseElements" not in names  # T1: null field stripped
        res = data["resources"].dataType.elementType
        assert sorted(f.name for f in res.fields) == ["ARN", "accountId", "type"]

    def test_timestamps(self, result):
        sink, _ = result
        df = sink.read_table(TableDest("my_dataset", "cloudtrail", "month"))
        ts = df.select(F.min("timestamp").alias("t")).collect()[0]["t"]
        assert ts.isoformat().startswith("2020-03-02T23:55:50")

    def test_load_log(self, result):
        sink, stats = result
        meta = sink.read_table(META_DEST)
        rows = meta.collect()
        assert len(rows) == 1
        assert rows[0]["ingest_id"] == stats.ingest_id
        assert rows[0]["data"]["total_rows"] == 8


class TestEvolution:
    def test_schema_evolves_across_batches(self, spark, tmp_path):
        # FIXTURES.md F6: {red,blue} → +{orange} → +{black}
        wh = str(tmp_path / "wh")
        sink = TableSink(spark, wh)
        rules = SchemaRuleRegistry()

        @rules.rule("colors")
        def colors(df):
            return rule_output(
                df,
                dataset="ds",
                table="colors",
                timestamp=F.lit(1559347200.0),
                data=F.struct(*[F.col(c) for c in df.columns]),
            )

        events = EventRuleSet([EventRule("all", name_suffix(".ndjson"), (Source(schema="colors"),))])
        pipe = IngestPipeline(spark, events, rules, sink)

        batches = [
            {"red": "r1", "blue": "b1"},
            {"red": "r2", "orange": "o1"},
            {"black": "k1"},
        ]
        for i, rec in enumerate(batches):
            p = tmp_path / f"batch{i}.ndjson"
            p.write_text(json.dumps(rec) + "\n")
            pipe.load_objects([ObjectMeta(bucket="b", name=f"batch{i}.ndjson", path=str(p))])

        df = sink.read_table(TableDest("ds", "colors"))
        fields = [f.name for f in df.schema["data"].dataType.fields]
        # within one inferred batch Spark sorts field names; the pinned
        # merge property (migrate_test.go:103-112) is existing-keep-
        # position + new-appended-in-arrival-order:
        assert fields == ["blue", "red", "orange", "black"]
        rows = {r["id"]: r["data"] for r in df.collect()}
        assert len(rows) == 3
        vals = {(d["red"], d["blue"], d["orange"], d["black"]) for d in rows.values()}
        assert vals == {
            (None, None, None, "k1"),
            ("r1", "b1", None, None),
            ("r2", None, "o1", None),
        }

    def test_type_conflict_rejected(self, spark, tmp_path):
        from swarm_spark.pipeline import IngestPartialFailure
        from swarm_spark.schema import SchemaConflictError

        wh = str(tmp_path / "wh2")
        sink = TableSink(spark, wh)
        rules = SchemaRuleRegistry()

        @rules.rule("strictint")
        def strictint(df):
            return rule_output(
                df,
                dataset="ds",
                table="t",
                timestamp=F.lit(1.0),
                data=F.struct(F.col("age")),
            )

        events = EventRuleSet([EventRule("all", name_suffix(".ndjson"), (Source(schema="strictint"),))])
        pipe = IngestPipeline(spark, events, rules, sink)

        p1 = tmp_path / "c1.ndjson"
        p1.write_text('{"age": 12}\n')
        pipe.load_objects([ObjectMeta(bucket="b", name="c1.ndjson", path=str(p1))])
        p2 = tmp_path / "c2.ndjson"
        p2.write_text('{"age": "twelve"}\n')
        with pytest.raises(IngestPartialFailure) as ei:
            pipe.load_objects([ObjectMeta(bucket="b", name="c2.ndjson", path=str(p2))])
        assert isinstance(ei.value.__cause__, SchemaConflictError)

    def test_partial_failure_other_destinations_still_written(self, spark, tmp_path):
        """One conflicting destination must not block the others; the
        error surfaces with per-destination detail after all attempts
        (reference load.go:100-130 semantics)."""
        from swarm_spark.pipeline import IngestPartialFailure

        wh = str(tmp_path / "wh3")
        sink = TableSink(spark, wh)
        rules = SchemaRuleRegistry()

        @rules.rule("bykind2")
        def bykind2(df):
            return rule_output(
                df,
                dataset="ds",
                table=F.concat(F.lit("p_"), F.col("kind")),
                timestamp=F.lit(1.0),
                data=F.struct("kind", "payload"),
            )

        events = EventRuleSet(
            [EventRule("all", name_suffix(".ndjson"), (Source(schema="bykind2"),))]
        )
        pipe = IngestPipeline(spark, events, rules, sink)
        # seed p_b with payload as long
        p1 = tmp_path / "s1.ndjson"
        p1.write_text(json.dumps({"kind": "b", "payload": 1}) + "\n")
        pipe.load_objects([ObjectMeta(bucket="x", name="s1.ndjson", path=str(p1))])
        # batch routes to p_a (fresh, ok) and p_b (payload now string → conflict)
        p2 = tmp_path / "s2.ndjson"
        p2.write_text(
            json.dumps({"kind": "a", "payload": "fine"})
            + "\n"
            + json.dumps({"kind": "b", "payload": "boom"})
            + "\n"
        )
        with pytest.raises(IngestPartialFailure) as ei:
            pipe.load_objects([ObjectMeta(bucket="x", name="s2.ndjson", path=str(p2))])
        # the healthy destination WAS written before the error surfaced
        assert ei.value.stats.rows_by_dest == {("ds", "p_a", ""): 1}
        assert sink.read_table(TableDest("ds", "p_a")).count() == 1
        assert sink.read_table(TableDest("ds", "p_b")).count() == 1  # only the seed
        assert "p_b" in str(ei.value)


class TestRouting:
    def test_dynamic_multi_table_routing(self, spark, tmp_path):
        """G1: per-record table choice from a data value (dynamic)."""
        wh = str(tmp_path / "wh3")
        sink = TableSink(spark, wh)
        rules = SchemaRuleRegistry()

        @rules.rule("bykind")
        def bykind(df):
            return rule_output(
                df,
                dataset="logs",
                table=F.concat(F.lit("t_"), F.col("kind")),
                timestamp=F.col("ts").cast("double"),
                data=F.struct("kind", "v"),
            )

        events = EventRuleSet([EventRule("all", name_suffix(".ndjson"), (Source(schema="bykind"),))])
        pipe = IngestPipeline(spark, events, rules, sink)

        p = tmp_path / "mix.ndjson"
        p.write_text(
            "\n".join(
                json.dumps({"kind": k, "v": i, "ts": 1700000000 + i})
                for i, k in enumerate(["a", "b", "a", "c", "b", "a"])
            )
        )
        stats = pipe.load_objects([ObjectMeta(bucket="b", name="mix.ndjson", path=str(p))])
        assert stats.rows_by_dest == {
            ("logs", "t_a", ""): 3,
            ("logs", "t_b", ""): 2,
            ("logs", "t_c", ""): 1,
        }
        assert sink.read_table(TableDest("logs", "t_a")).count() == 3

    def test_no_rule_match_strict(self, spark, tmp_path):
        events, rules = make_rules()
        pipe = IngestPipeline(spark, events, rules, DumpSink(spark, str(tmp_path / "d")))
        with pytest.raises(NoRuleMatchError):
            pipe.load_objects([ObjectMeta(bucket="other", name="x.txt")])


class TestDumpSink:
    def test_dump_writes_log_and_schema(self, spark, tmp_path, fixture_paths):
        out = str(tmp_path / "dump")
        events, rules = make_rules()
        sink = DumpSink(spark, out)
        pipe = IngestPipeline(spark, events, rules, sink, json_mode="whole")
        pipe.load_objects([ObjectMeta(bucket="my-bucket", name="a.json", path=fixture_paths[0])])
        import os

        assert os.path.isdir(os.path.join(out, "my_dataset.cloudtrail.log"))
        with open(os.path.join(out, "my_dataset.cloudtrail.schema.json")) as f:
            schema = T.StructType.fromJson(json.load(f))
        assert [f.name for f in schema.fields] == [
            "id",
            "ingest_id",
            "timestamp",
            "ingested_at",
            "data",
        ]
        assert sink.read_table(TableDest("my_dataset", "cloudtrail")).count() == 4


def _bykind_rules():
    """Three day-partitioned destinations, chosen per record."""
    rules = SchemaRuleRegistry()

    @rules.rule("bykind3")
    def bykind3(df):
        return rule_output(
            df,
            dataset="logs",
            table=F.concat(F.lit("t_"), F.col("kind")),
            partition="day",
            timestamp=F.col("ts").cast("double"),
            data=F.struct("kind", "v", "extra", "meta", "tags"),
        )

    events = EventRuleSet([EventRule("all", name_suffix(".ndjson"), (Source(schema="bykind3"),))])
    return events, rules


def _bykind_object(tmp_path, recs: list[dict]) -> ObjectMeta:
    p = tmp_path / "mix.ndjson"
    p.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    return ObjectMeta(bucket="b", name="mix.ndjson", path=str(p))


# ``extra`` is set only in t_a and ``meta.x`` only in t_b; ``meta.y`` is
# void everywhere, and t_c sets nothing but ``kind`` and ``v``.
BYKIND_RECS = [
    {"kind": "a", "v": 1, "ts": 1700000000, "extra": "e1", "meta": {"x": None, "y": None}, "tags": []},
    {"kind": "a", "v": 2, "ts": 1700090000, "extra": None, "meta": None, "tags": ["t"]},
    {"kind": "b", "v": 3, "ts": 1700000001, "extra": None, "meta": {"x": 7, "y": None}, "tags": None},
    {"kind": "b", "v": 4, "ts": 1700000002, "extra": None, "meta": {"x": None, "y": None}, "tags": ["u", "w"]},
    {"kind": "c", "v": 5, "ts": 1700000003, "extra": None, "meta": {"x": None, "y": None}, "tags": []},
]
BYKIND_DESTS = [TableDest("logs", f"t_{k}", "day") for k in "abc"]


def _landed(sink, dest):
    df = sink.read_table(dest)
    rows = sorted(
        (r["id"], r["timestamp"], json.dumps(r["data"].asDict(recursive=True), sort_keys=True))
        for r in df.collect()
    )
    return df.schema.json(), rows


class TestDestinationPlan:
    """The destination plan: one aggregate replaces the per-destination
    validation, discovery, strip and count jobs of a load."""

    def test_load_runs_scan_plan_and_one_write_per_destination(
        self, spark, tmp_path, monkeypatch
    ):
        from swarm_spark.pipeline import ingest

        sc = spark.sparkContext
        events, rules = _bykind_rules()
        sink = TableSink(spark, str(tmp_path / "wh"))
        pipe = IngestPipeline(spark, events, rules, sink)
        obj = _bykind_object(tmp_path, BYKIND_RECS)
        pipe.load_objects([obj])  # warm: every table exists, no first-load work left

        groups: list[tuple[str, str]] = []
        base = f"load-{id(self)}"

        def tagged(fn, phase):
            def wrapper(*a, **k):
                g = f"{base}-{phase}-{len(groups)}"
                groups.append((phase, g))
                sc.setJobGroup(g, phase)
                try:
                    return fn(*a, **k)
                finally:
                    sc.setJobGroup(base, "load")

            return wrapper

        monkeypatch.setattr(ingest, "read_objects", tagged(ingest.read_objects, "scan"))
        monkeypatch.setattr(
            ingest, "plan_destinations", tagged(ingest.plan_destinations, "plan")
        )
        monkeypatch.setattr(TableSink, "append", tagged(TableSink.append, "write"))
        sc.setJobGroup(base, "load")
        try:
            stats = pipe.load_objects([obj])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        by_phase: dict[str, list[int]] = {}
        for phase, g in groups:
            by_phase.setdefault(phase, []).append(len(tracker.getJobIdsForGroup(g)))

        assert stats.rows_by_dest == {("logs", "t_a", "day"): 2, ("logs", "t_b", "day"): 2,
                                      ("logs", "t_c", "day"): 1}
        assert len(by_phase["scan"]) == 1
        # one aggregate. It is the first action on the persisted frame,
        # so it also builds the cache (the read proper), and adaptive
        # execution runs the cache build and the shuffle map stage as
        # jobs of their own
        assert len(by_phase["plan"]) == 1 and 1 <= by_phase["plan"][0] <= 3
        assert by_phase["write"] == [1, 1, 1]
        # nothing else: no validation probe, distinct, strip or count job
        assert len(tracker.getJobIdsForGroup(base)) == 0

    def test_strict_violation_raises_before_any_write(self, spark, tmp_path):
        import os

        from swarm_spark.rules import RuleOutputError

        events, rules = _bykind_rules()
        wh = tmp_path / "wh"
        sink = TableSink(spark, str(wh))
        pipe = IngestPipeline(spark, events, rules, sink)
        bad = [dict(r) for r in BYKIND_RECS]
        bad[3]["ts"] = 0  # timestamp must be > 0 (R3)
        obj = _bykind_object(tmp_path, bad)
        with pytest.raises(RuleOutputError, match="invalid rule output rows"):
            pipe.load_objects([obj])
        assert sink.list_tables() == []
        landed = [f for _r, _d, fs in os.walk(wh) for f in fs if f.endswith(".parquet")]
        assert landed == []
        # lenient mode drops the violating row and loads the rest
        stats = IngestPipeline(spark, events, rules, sink, strict=False).load_objects([obj])
        assert stats.rows_by_dest == {("logs", "t_a", "day"): 2, ("logs", "t_b", "day"): 1,
                                      ("logs", "t_c", "day"): 1}

    def test_strip_is_per_destination_and_matches_per_batch_strip(self, spark, tmp_path):
        """A field void in one destination but set in another is kept
        only where it is set. The landed tables equal those of the
        per-destination loop the plan replaced: filter, strip with its
        own aggregate, evolve, append."""
        from swarm_spark.pipeline.ingest import plan_destinations
        from swarm_spark.schema import strip_struct_column

        events, rules = _bykind_rules()
        sink = TableSink(spark, str(tmp_path / "wh"))
        pipe = IngestPipeline(spark, events, rules, sink)
        obj = _bykind_object(tmp_path, BYKIND_RECS)
        stats = pipe.load_objects([obj])
        assert stats.total_rows == 5

        ref = TableSink(spark, str(tmp_path / "ref"))
        enveloped = pipe.transform_objects([obj]).persist()
        plans = plan_destinations(enveloped)
        assert [(p.dest, p.rows) for p in plans] == list(zip(BYKIND_DESTS, [2, 2, 1]))
        for dest in BYKIND_DESTS:
            batch = enveloped.where(F.col("table") == dest.table).select(
                "id", "ingest_id", "timestamp", "ingested_at", "data"
            )
            batch = strip_struct_column(batch, "data")
            merged = ref.ensure_table(dest, batch.schema["data"].dataType)
            ref.append(dest, pipe._align_data(batch, merged))
        enveloped.unpersist()

        def fields(dest):
            data = sink.read_table(dest).schema["data"].dataType
            return {
                f.name: sorted(g.name for g in f.dataType.fields)
                if isinstance(f.dataType, T.StructType)
                else None
                for f in data.fields
            }

        assert fields(BYKIND_DESTS[0]) == {"extra": None, "kind": None, "tags": None, "v": None}
        assert fields(BYKIND_DESTS[1]) == {"kind": None, "meta": ["x"], "tags": None, "v": None}
        assert fields(BYKIND_DESTS[2]) == {"kind": None, "v": None}
        for dest in BYKIND_DESTS:
            assert _landed(sink, dest) == _landed(ref, dest)

    def test_apply_schema_matches_load(self, spark, tmp_path):
        from swarm_spark.pipeline import apply_schema

        events, rules = _bykind_rules()
        obj = _bykind_object(tmp_path, BYKIND_RECS)
        loaded = TableSink(spark, str(tmp_path / "loaded"))
        IngestPipeline(spark, events, rules, loaded).load_objects([obj])
        planned = TableSink(spark, str(tmp_path / "planned"))
        touched = apply_schema(IngestPipeline(spark, events, rules, planned), [obj])
        assert touched == BYKIND_DESTS
        for dest in BYKIND_DESTS:
            assert planned._read_schema(dest) == loaded._read_schema(dest)
            assert planned.read_table(dest).count() == 0

    def test_zero_row_append_leaves_table_unchanged(self, spark, tmp_path):
        events, rules = _bykind_rules()
        sink = TableSink(spark, str(tmp_path / "wh"))
        pipe = IngestPipeline(spark, events, rules, sink)
        pipe.load_objects([_bykind_object(tmp_path, BYKIND_RECS)])
        dest = BYKIND_DESTS[0]
        files, before = sink._data_files(dest), _landed(sink, dest)
        empty = sink.read_table(dest).where(F.lit(False))
        assert sink.append(dest, empty) == 0
        assert sink._data_files(dest) == files
        assert _landed(sink, dest) == before


def _partitioned_rules():
    """One table whose rows split over two partition units."""
    rules = SchemaRuleRegistry()

    @rules.rule("split_units")
    def split_units(df):
        return rule_output(
            df,
            dataset="logs",
            table="t_one",
            partition=F.when(F.col("kind") == "a", F.lit("day")).otherwise(F.lit("month")),
            timestamp=F.col("ts").cast("double"),
            data=F.struct("kind", "v", "extra", "meta", "tags"),
        )

    events = EventRuleSet(
        [EventRule("all", name_suffix(".ndjson"), (Source(schema="split_units"),))]
    )
    return events, rules


class TestConcurrentWrites:
    """A load's destination tables are written by concurrent workers;
    what a caller sees stays that of one destination after another."""

    def _conflicted_sink(self, spark, wh):
        """A warehouse where ``t_b`` already holds ``data.v`` as a string;
        the bykind rows carry it as a long."""
        sink = TableSink(spark, str(wh))
        sink.ensure_table(BYKIND_DESTS[1], T.StructType([T.StructField("v", T.StringType())]))
        return sink

    def test_partial_failure_writes_the_other_tables(self, spark, tmp_path):
        import threading

        from swarm_spark.pipeline import IngestPartialFailure

        events, rules = _bykind_rules()
        sink = self._conflicted_sink(spark, tmp_path / "wh")
        pipe = IngestPipeline(spark, events, rules, sink)
        obj = _bykind_object(tmp_path, BYKIND_RECS)
        threads = threading.active_count()
        with pytest.raises(IngestPartialFailure) as err:
            pipe.load_objects([obj])
        assert threading.active_count() == threads
        assert [d for d, _e in err.value.dest_errors] == [BYKIND_DESTS[1]]
        assert err.value.stats.rows_by_dest == {
            ("logs", "t_a", "day"): 2,
            ("logs", "t_c", "day"): 1,
        }
        assert sink.read_table(BYKIND_DESTS[0]).count() == 2
        assert sink.read_table(BYKIND_DESTS[1]).count() == 0
        assert sink.read_table(BYKIND_DESTS[2]).count() == 1

    def test_atomic_failure_lands_nothing(self, spark, tmp_path):
        import os
        import threading

        from swarm_spark.pipeline import IngestPartialFailure

        events, rules = _bykind_rules()
        wh = tmp_path / "wh"
        sink = self._conflicted_sink(spark, wh)
        pipe = IngestPipeline(spark, events, rules, sink, atomic=True)
        obj = _bykind_object(tmp_path, BYKIND_RECS)
        threads = threading.active_count()
        with pytest.raises(IngestPartialFailure) as err:
            pipe.load_objects([obj])
        assert threading.active_count() == threads
        assert [d for d, _e in err.value.dest_errors] == [BYKIND_DESTS[1]]
        assert err.value.stats.rows_by_dest == {}
        for dest in BYKIND_DESTS:
            if sink._read_schema(dest) is not None:
                assert sink.read_table(dest).count() == 0
        staged = [
            name
            for _r, dirs, _f in os.walk(wh)
            for name in dirs
            if name.startswith("_staged-")
        ]
        assert staged == []
        commits = wh / "_swarm_commits"
        assert not commits.exists() or list(commits.iterdir()) == []

    @pytest.mark.parametrize("kind", ["dump", "table"])
    def test_same_table_plans_land_once(self, spark, tmp_path, monkeypatch, kind):
        import threading
        import time

        events, rules = _partitioned_rules()
        sink = (
            DumpSink(spark, str(tmp_path / "out"))
            if kind == "dump"
            else TableSink(spark, str(tmp_path / "wh"))
        )
        # the two partition units of t_one must be written one after
        # the other: count the appends in flight per table, holding
        # each open long enough that a concurrent one would overlap it
        append, lock = type(sink).append, threading.Lock()
        in_flight: dict[str, int] = {}
        peak: list[int] = []

        def spied(self, dest, df):
            with lock:
                in_flight[dest.table] = in_flight.get(dest.table, 0) + 1
                peak.append(in_flight[dest.table])
            try:
                time.sleep(0.2)
                return append(self, dest, df)
            finally:
                with lock:
                    in_flight[dest.table] -= 1

        monkeypatch.setattr(type(sink), "append", spied)
        pipe = IngestPipeline(spark, events, rules, sink)
        stats = pipe.load_objects([_bykind_object(tmp_path, BYKIND_RECS)])
        assert peak == [1, 1]
        assert stats.rows_by_dest == {
            ("logs", "t_one", "day"): 2,
            ("logs", "t_one", "month"): 3,
        }
        landed = sink.read_table(TableDest("logs", "t_one", "day"))
        assert sorted(r["data"]["v"] for r in landed.collect()) == [1, 2, 3, 4, 5]
        data = landed.schema["data"].dataType
        # ``extra`` is set only in the day rows, ``meta.x`` only in the
        # month rows: the one merged schema holds both
        assert sorted(data.fieldNames()) == ["extra", "kind", "meta", "tags", "v"]
        assert data["meta"].dataType.fieldNames() == ["x"]

    def test_many_tables_under_fast_thread_switching(self, spark, tmp_path):
        """More tables than workers, with the interpreter switching
        threads as often as it can: every staged table reaches the one
        manifest, listed in a fixed order, and every row lands."""
        import os
        import sys

        rules = SchemaRuleRegistry()

        @rules.rule("eight")
        def eight(df):
            return rule_output(
                df,
                dataset="logs",
                table=F.concat(F.lit("t_"), (F.col("v") % 8).cast("string")),
                partition="day",
                timestamp=F.col("ts").cast("double"),
                data=F.struct("v"),
            )

        events = EventRuleSet([EventRule("all", name_suffix(".ndjson"), (Source(schema="eight"),))])
        recs = [{"v": v, "ts": 1700000000 + v} for v in range(32)]
        wh = tmp_path / "wh"
        sink = TableSink(spark, str(wh))
        pipe = IngestPipeline(spark, events, rules, sink, atomic=True)
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            stats = pipe.load_objects([_bykind_object(tmp_path, recs)])
        finally:
            sys.setswitchinterval(interval)
        assert stats.rows_by_dest == {("logs", f"t_{k}", "day"): 4 for k in range(8)}
        (commit,) = os.listdir(wh / "_swarm_commits")
        manifest = json.loads((wh / "_swarm_commits" / commit).read_text())
        assert [t["table"] for t in manifest["tables"]] == [f"t_{k}" for k in range(8)]
        for k in range(8):
            landed = sink.read_table(TableDest("logs", f"t_{k}", "day")).collect()
            assert sorted(r["data"]["v"] for r in landed) == list(range(k, 32, 8))

    def test_write_jobs_carry_the_caller_job_group(self, spark, tmp_path):
        sc = spark.sparkContext
        events, rules = _bykind_rules()
        sink = TableSink(spark, str(tmp_path / "wh"))
        pipe = IngestPipeline(spark, events, rules, sink)
        obj = _bykind_object(tmp_path, BYKIND_RECS)
        store = sc._jsc.sc().statusStore()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = store.jobsList(None)  # newest first
        before = jobs.apply(0).jobId() if jobs.size() else -1
        group = f"attr-{id(self)}"
        sc.setJobGroup(group, "load")
        try:
            stats = pipe.load_objects([obj])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert stats.total_rows == 5
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = store.jobsList(None)
        started = {jobs.apply(i).jobId() for i in range(jobs.size())}
        started = {j for j in started if j > before}
        # the scan, the plan and one write per destination at least
        assert len(started) >= 5
        assert started <= set(sc.statusTracker().getJobIdsForGroup(group))
