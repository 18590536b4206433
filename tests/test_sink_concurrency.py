"""TableSink schema-CAS under concurrent evolution (Q4's ETag analogue)."""

from __future__ import annotations

import threading

from pyspark.sql import types as T

from swarm_spark.model import TableDest
from swarm_spark.sinks import TableSink


def s(*names):
    return T.StructType([T.StructField(n, T.StringType(), True) for n in names])


class TestConcurrentEvolve:
    def test_parallel_ensure_table_unions_all_fields(self, spark, tmp_path):
        sink = TableSink(spark, str(tmp_path / "wh"))
        dest = TableDest("ds", "t")
        errs = []

        def evolve(field):
            try:
                sink.ensure_table(dest, s("base", field))
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [threading.Thread(target=evolve, args=(f"c{i}",)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        final = sink._read_schema(dest)["data"].dataType
        names = {f.name for f in final.fields}
        # every writer's column survived the race: lock serializes the
        # read-merge-write, so no evolution is lost
        assert names == {"base"} | {f"c{i}" for i in range(8)}


class TestConcurrentAppend:
    def test_parallel_appends_to_one_table_all_land(self, spark, tmp_path):
        """Appends to one table from many threads: each writes into its
        own staged dir, so none fails and none loses or duplicates
        another's rows (a shared ``_temporary`` committer dir did both)."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import functions as F

        sink = TableSink(spark, str(tmp_path / "wh"))
        dest = TableDest("ds", "t", "day")
        sink.ensure_table(dest, T.StructType([T.StructField("n", T.LongType(), True)]))
        per, writers = 500, 8

        def frame(w):
            return spark.range(per).select(
                F.concat(F.lit(f"w{w}-"), F.col("id").cast("string")).alias("id"),
                F.lit(f"i{w}").alias("ingest_id"),
                F.timestamp_seconds(F.lit(1700000000) + (F.col("id") % 3) * 86400).alias(
                    "timestamp"
                ),
                F.current_timestamp().alias("ingested_at"),
                F.struct(F.col("id").alias("n")).alias("data"),
            )

        frames = [frame(w) for w in range(writers)]
        with ThreadPoolExecutor(writers) as pool:
            counts = list(pool.map(lambda f: sink.append(dest, f), frames, timeout=300))
        assert counts == [per] * writers
        got = sink.read_table(dest)
        assert got.count() == per * writers
        assert got.select("id").distinct().count() == per * writers


class TestTableLock:
    """Schema-lock staleness/heartbeat protocol (ADVICE r5: a SIGKILLed
    compact used to wedge the table forever; release had a
    check-then-remove gap)."""

    def test_stale_lock_is_broken_not_fatal(self, spark, tmp_path):
        import os
        import time as _time

        from swarm_spark.sinks.table import LOCK_FILE

        sink = TableSink(spark, str(tmp_path / "wh"))
        dest = TableDest("ds", "t")
        sink.ensure_table(dest, s("a"))
        lock = f"{sink._dir(dest)}/{LOCK_FILE}"
        with open(lock, "w") as f:
            f.write("dead-compact")
        old = _time.time() - 3600
        os.utime(lock, (old, old))
        # would previously time out after 30 s and raise ModelError
        sink.ensure_table(dest, s("a", "b"))
        names = {f.name for f in sink._read_schema(dest)["data"].dataType.fields}
        assert names == {"a", "b"}
        assert not os.path.exists(lock)

    def test_heartbeat_keeps_long_hold_fresh(self, tmp_path, monkeypatch):
        import time as _time

        from swarm_spark.sinks import table as tbl

        monkeypatch.setattr(tbl, "LOCK_STALE_S", 0.4)
        monkeypatch.setattr(tbl, "_HEARTBEAT_S", 0.1)
        lock = tbl._TableLock(str(tmp_path / "t.lock")).acquire(timeout_s=1.0)
        try:
            _time.sleep(0.9)  # > LOCK_STALE_S without heartbeat
            # a second waiter must NOT break the heartbeating holder
            waiter = tbl._TableLock(str(tmp_path / "t.lock"))
            try:
                waiter.acquire(timeout_s=0.3)
                raise AssertionError("waiter stole a live heartbeating lock")
            except Exception as e:  # noqa: BLE001
                assert "timeout" in str(e)
        finally:
            lock.release()
        # after release the path is free immediately
        tbl._TableLock(str(tmp_path / "t.lock")).acquire(timeout_s=0.5).release()

    def test_release_never_deletes_replacement_lock(self, tmp_path):
        import os

        from swarm_spark.sinks import table as tbl

        path = str(tmp_path / "t.lock")
        lock = tbl._TableLock(path).acquire(timeout_s=1.0)
        # simulate: broken as stale, another holder created a new lock
        os.remove(path)
        with open(path, "w") as f:
            f.write("new-holder-token")
        lock.release()
        assert os.path.exists(path), "release deleted a lock it no longer owns"
        with open(path) as f:
            assert f.read() == "new-holder-token"
