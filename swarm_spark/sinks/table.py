"""Evolving local table sink (operators Q4/Q5/W1 in parquet-warehouse form).

Physical layout per destination::

    {warehouse}/{dataset}/{table}/
        _swarm_schema.json      # full row schema (envelope + data), JSON
        part-*.parquet          # appended batches (partitioned subdirs
                                #   __swarm_part=... when unit != "")

Schema evolution = strict merge of the stored ``data`` struct with the
incoming batch's struct (union, stable order, error on conflict —
reference pkg/usecase/bigquery.go:15-45), then an atomic schema-file
swap guarded by an exclusive lock file — the single-writer analogue of
the reference's ETag compare-and-swap (pkg/infra/bq/client.go:197-213).
Reading uses the stored merged schema; parquet's nested-column pruning
fills fields missing from older files with nulls, so old batches never
need rewriting (same monotonic-evolution property BigQuery gives the
reference).

Multi-table batches can opt into an all-or-nothing commit via
:class:`TableTransaction` (the Spark-native upgrade over the
reference's partial-success tolerance, pkg/usecase/load.go:100-130):
slices stage under hidden ``_staged-{txn}`` subdirs, one manifest-file
rename publishes the whole transaction, and file promotion into the
table layout is idempotent + completed by readers, so a crash at any
point leaves either nothing or the full batch visible. Every append
stages the same way, in a hidden dir of its own, so concurrent appends
to one table never share a Spark committer dir.

On a cluster this sink maps 1:1 onto Delta/Iceberg (transactional
commit replaces the lock file / manifest) or the BigQuery connector.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.timeutils import PARTITION_COL, partition_value
from ..model import ENVELOPE_FIELDS, ModelError, TableDest, TimeUnit
from ..schema.merge import merge_schemas, schemas_equal
from .base import Sink, write_counted

SCHEMA_FILE = "_swarm_schema.json"
LOCK_FILE = "_swarm_schema.lock"
COMMITS_DIR = "_swarm_commits"
STAGED_PREFIX = "_staged-"
SNAPSHOTS_DIR = "_swarm_snapshots"
RETIRED_DIR = "_swarm_retired"
# A schema lock whose mtime is older than this is treated as orphaned
# (holder SIGKILLed) and broken by the next waiter. LIVE holders —
# including a compact() spending minutes in the Spark rewrite — keep
# the mtime fresh from a heartbeat thread, so only a dead holder's
# lock ever ages past the threshold.
LOCK_STALE_S = 60.0
_HEARTBEAT_S = LOCK_STALE_S / 4


class _TableLock:
    """O_EXCL-create lock with a fencing token, mtime stale-breaking,
    and a heartbeat for long holds.

    Mirrors the protocol proven in ``streaming/state.py``: acquire =
    exclusive create with a unique token inside; stale-break = atomic
    rename to a tombstone, re-verify age on the immutable name, link
    back if it turned out fresh; release = rename to a private name
    FIRST, then verify the token — the live lock path is never
    os.remove()d directly, so a breaker + new-acquirer interleaving
    can't make us delete the new holder's lock. The heartbeat thread
    refreshes mtime every ``_HEARTBEAT_S`` so a multi-minute compact
    is never mistaken for an orphan, while a SIGKILLed holder stops
    heartbeating and its lock becomes breakable after
    ``LOCK_STALE_S`` — previously it wedged every future
    ensure_table/compact on the table forever."""

    def __init__(self, path: str):
        self.path = path
        self.token = uuid.uuid4().hex
        self._stop: threading.Event | None = None
        self._hb: threading.Thread | None = None

    def acquire(self, timeout_s: float) -> "_TableLock":
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, self.token.encode())
                os.close(fd)
                break
            except FileExistsError:
                self._try_break_stale()
                if time.monotonic() > deadline:
                    raise ModelError(f"schema lock timeout: {self.path}")
                time.sleep(0.05)
        self._stop = threading.Event()
        self._hb = threading.Thread(target=self._beat, daemon=True)
        self._hb.start()
        return self

    def _beat(self) -> None:
        while not self._stop.wait(_HEARTBEAT_S):
            try:
                os.utime(self.path)
            except OSError:
                return  # broken as stale; token fencing protects release

    def _try_break_stale(self) -> None:
        try:
            if time.time() - os.path.getmtime(self.path) <= LOCK_STALE_S:
                return
            tomb = self.path + f".stale-{uuid.uuid4().hex}"
            os.rename(self.path, tomb)  # atomic: one breaker wins
        except OSError:
            return
        try:
            if time.time() - os.path.getmtime(tomb) > LOCK_STALE_S:
                os.remove(tomb)
            else:
                try:
                    os.link(tomb, self.path)
                except OSError:
                    pass
                os.remove(tomb)
        except OSError:
            pass

    def release(self) -> None:
        if self._stop is not None:
            self._stop.set()
            self._hb.join(timeout=2.0)
        priv = self.path + f".rel-{uuid.uuid4().hex}"
        try:
            os.rename(self.path, priv)
        except OSError:
            return  # broken as stale — nothing of ours at that path
        try:
            with open(priv, encoding="utf-8") as f:
                mine = f.read() == self.token
            if not mine:
                # our lock was broken and replaced; hand the new
                # holder's lock back before dropping the private name
                try:
                    os.link(priv, self.path)
                except OSError:
                    pass
            os.remove(priv)
        except OSError:
            pass


def envelope_schema(data_schema: T.StructType) -> T.StructType:
    return T.StructType(ENVELOPE_FIELDS + [T.StructField("data", data_schema, True)])


class TableSink(Sink):
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def _dir(self, dest: TableDest) -> str:
        return os.path.join(self.warehouse, dest.dataset, dest.table)

    def _read_schema(self, dest: TableDest) -> T.StructType | None:
        p = os.path.join(self._dir(dest), SCHEMA_FILE)
        if not os.path.exists(p):
            return None
        with open(p, encoding="utf-8") as f:
            return T.StructType.fromJson(json.load(f))

    def _lock(self, dest: TableDest, timeout_s: float = 30.0) -> _TableLock:
        return _TableLock(os.path.join(self._dir(dest), LOCK_FILE)).acquire(timeout_s)

    def ensure_table(self, dest: TableDest, data_schema: T.StructType) -> T.StructType:
        dest.validate()
        d = self._dir(dest)
        os.makedirs(d, exist_ok=True)
        lock = self._lock(dest)
        try:
            current = self._read_schema(dest)
            if current is None:
                merged_data = data_schema
            else:
                current_data = current["data"].dataType
                merged_data = merge_schemas(current_data, data_schema)
                if schemas_equal(current_data, merged_data):
                    return current_data  # Q3 no-op detection: skip update
            target = envelope_schema(merged_data)
            tmp = os.path.join(d, SCHEMA_FILE + f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(target.jsonValue(), f)
            os.replace(tmp, os.path.join(d, SCHEMA_FILE))
            return merged_data
        finally:
            lock.release()

    def append(self, dest: TableDest, df: DataFrame) -> int:
        return _write_slice(self._dir(dest), dest, df)

    # -- transactional multi-table commit ------------------------------
    def transaction(self, txn_id: str | None = None) -> "TableTransaction":
        """Open an all-or-nothing multi-destination batch."""
        return TableTransaction(self, txn_id)

    def _commit_path(self, txn_id: str) -> str:
        return os.path.join(self.warehouse, COMMITS_DIR, f"{txn_id}.json")

    def _recover(self, dest: TableDest) -> None:
        """Finish promotion for committed-but-unpromoted staged dirs
        (crash between manifest publish and file moves); uncommitted
        staged dirs stay hidden (underscore prefix) and are ignored.
        Compaction manifests additionally carry the replaced-file list,
        whose deletions are completed here too (idempotent)."""
        d = self._dir(dest)
        if not os.path.isdir(d):
            return
        for name in os.listdir(d):
            if not name.startswith(STAGED_PREFIX):
                continue
            txn_id = name[len(STAGED_PREFIX):]
            cpath = self._commit_path(txn_id)
            if not os.path.exists(cpath):
                continue
            with open(cpath, encoding="utf-8") as f:
                manifest = json.load(f)
            _promote(d, txn_id, replaces=manifest.get("replaces"))

    def _data_files(self, dest: TableDest) -> list[str]:
        """Relative paths of the destination's current data files
        (partition subdirs included; staged/marker files excluded)."""
        d = self._dir(dest)
        out = []
        for root, dirs, files in os.walk(d):
            # skip hidden dirs (staged txns, snapshots, retired files)
            # but keep partition subdirs, whose marker col is itself
            # underscore-prefixed
            dirs[:] = [
                x
                for x in dirs
                if x.startswith(f"{PARTITION_COL}=")
                or not x.startswith(("_", "."))
            ]
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue
                out.append(os.path.relpath(os.path.join(root, fn), d))
        return sorted(out)

    def compact(
        self,
        dest: TableDest,
        target_file_bytes: int = 512 * 1024 * 1024,
        partitions: list[str] | None = None,
    ) -> dict:
        """Rewrite the destination's many small append slices into
        ~``target_file_bytes`` files — the small-file maintenance every
        append-based warehouse needs at scale (each ingest batch writes
        shuffle-partition-count files; a year of batches makes listings
        and scans metadata-bound). ``partitions`` restricts the
        rewrite to those partition values (recent-ingest maintenance
        — the whole-table default is for small/dimension tables).

        Crash-safe via the same staged-dir + manifest protocol as
        :class:`TableTransaction`, extended with a ``replaces`` list:
        the compacted files stage hidden, ONE manifest rename is the
        durability point, and promotion deletes the replaced files
        BEFORE moving the new ones in (both idempotent, completed by
        promote-on-read after a crash). Readers between the two halves
        of an eager swap can see a transient gap — the single-writer
        contract this sink already has; on a cluster this operation is
        Delta/Iceberg OPTIMIZE, which adds snapshot isolation.

        Concurrency: compact holds the table's schema lock for the
        whole rewrite, heartbeating it so it is never broken as stale;
        a concurrent ``ensure_table`` (any ingest batch with schema
        evolution) therefore waits up to its lock timeout and then
        raises ``ModelError`` — schedule compaction off the ingest
        path. A compact process that DIES mid-rewrite stops
        heartbeating: its lock ages past ``LOCK_STALE_S`` and the next
        writer breaks it, and its staged dir stays hidden (no
        manifest) so no partial state ever publishes.
        """
        self._recover(dest)
        d = self._dir(dest)
        schema = self._read_schema(dest)
        if schema is None:
            raise ModelError(f"no such table: {dest.dataset}.{dest.table}")
        lock = self._lock(dest)
        try:
            old = self._data_files(dest)
            if partitions is not None:
                # partition-scoped maintenance: at 100 TB you compact
                # the partitions recent ingests touched, never the
                # whole table; cold partitions were compacted when THEY
                # were hot
                want = {f"{PARTITION_COL}={p}" for p in partitions}
                old = [f for f in old if f.split(os.sep)[0] in want]
            if len(old) <= 1:
                return {"files_before": len(old), "files_after": len(old)}
            total = sum(os.path.getsize(os.path.join(d, f)) for f in old)
            n_out = max(1, -(-total // int(target_file_bytes)))
            partitioned = any(os.sep in f and "=" in f.split(os.sep)[0] for f in old)
            read_schema = schema
            if partitioned:
                read_schema = T.StructType(
                    list(schema.fields)
                    + [T.StructField(PARTITION_COL, T.StringType(), True)]
                )
            df = (
                self.spark.read.schema(read_schema)
                .option("basePath", d)
                .parquet(*[os.path.join(d, f) for f in old])
            )
            txn_id = f"compact-{uuid.uuid4().hex}"
            staged = os.path.join(d, f"{STAGED_PREFIX}{txn_id}")
            writer = df.coalesce(int(n_out)).write.mode("overwrite")
            if partitioned:
                writer = writer.partitionBy(PARTITION_COL)
            writer.parquet(staged)
            manifest = {
                "txn": txn_id,
                "kind": "compact",
                "tables": [
                    {
                        "dataset": dest.dataset,
                        "table": dest.table,
                        "partition": dest.partition,
                    }
                ],
                "replaces": old,
            }
            cdir = os.path.join(self.warehouse, COMMITS_DIR)
            os.makedirs(cdir, exist_ok=True)
            tmp = os.path.join(cdir, f".{txn_id}.tmp")
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(manifest, f)
            os.replace(tmp, self._commit_path(txn_id))  # durability point
            _promote(d, txn_id, replaces=old)
            return {
                "files_before": len(old),
                "files_after": len(self._data_files(dest)),
                "bytes_before": int(total),
            }
        finally:
            lock.release()

    def merge_by_id(self, dest: TableDest, df: DataFrame) -> dict:
        """Partition-scoped upsert: replace rows whose ``id`` collides
        with the batch, append the rest — the incremental-refresh
        primitive (re-ingest corrected objects without a full-table
        dedup pass).

        Scale shape: ONLY the partitions the batch touches are read
        (derived from the batch's timestamps — one metadata-sized
        distinct), anti-joined on id against the (typically far
        smaller) batch, and rewritten through the same staged-dir +
        ``replaces`` manifest protocol as compact — one manifest rename
        is the durability point, recovery is promote-on-read. The rest
        of the table is never scanned or rewritten. Correct because ids
        are deterministic content hashes INCLUDING the record timestamp
        (functions/ids.py): a colliding id always lives in the same
        partition as its replacement.

        Unpartitioned tables degrade to a whole-table merge — fine for
        dimension-sized tables, wrong tool at 100 TB (partition your
        facts).
        """
        schema = self._read_schema(dest)
        if schema is None:
            raise ModelError(f"no such table: {dest.dataset}.{dest.table}")
        d = self._dir(dest)
        lock = self._lock(dest)
        try:
            self._recover(dest)
            n_new = df.count()
            if n_new == 0:
                return {"rows_in": 0, "rows_replaced": 0, "partitions": []}
            partitioned = dest.partition != TimeUnit.NONE.value
            if partitioned:
                parts = sorted(
                    r["p"]
                    for r in df.select(
                        partition_value(F.col("timestamp"), dest.partition).alias("p")
                    )
                    .distinct()
                    .collect()
                )
                part_dirs = [
                    f"{PARTITION_COL}={p}"
                    for p in parts
                    if os.path.isdir(os.path.join(d, f"{PARTITION_COL}={p}"))
                ]
                old_files = [
                    f
                    for f in self._data_files(dest)
                    if f.split(os.sep)[0] in part_dirs
                ]
            else:
                parts = []
                old_files = self._data_files(dest)
            new_ids = df.select("id")
            if old_files:
                read_schema = schema
                if partitioned:
                    read_schema = T.StructType(
                        list(schema.fields)
                        + [T.StructField(PARTITION_COL, T.StringType(), True)]
                    )
                old = (
                    self.spark.read.schema(read_schema)
                    .option("basePath", d)
                    .parquet(*[os.path.join(d, f) for f in old_files])
                )
                if partitioned:
                    old = old.drop(PARTITION_COL)
                survivors = old.join(new_ids, "id", "left_anti")
                n_replaced = old.join(new_ids, "id", "left_semi").count()
                merged = survivors.unionByName(df)
            else:
                n_replaced = 0
                merged = df
            txn_id = f"merge-{uuid.uuid4().hex}"
            staged = os.path.join(d, f"{STAGED_PREFIX}{txn_id}")
            writer = merged
            if partitioned:
                writer = merged.withColumn(
                    PARTITION_COL,
                    partition_value(F.col("timestamp"), dest.partition),
                )
                writer.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(
                    staged
                )
            else:
                writer.write.mode("overwrite").parquet(staged)
            manifest = {
                "txn": txn_id,
                "kind": "merge",
                "tables": [
                    {
                        "dataset": dest.dataset,
                        "table": dest.table,
                        "partition": dest.partition,
                    }
                ],
                "replaces": old_files,
            }
            cdir = os.path.join(self.warehouse, COMMITS_DIR)
            os.makedirs(cdir, exist_ok=True)
            tmp = os.path.join(cdir, f".{txn_id}.tmp")
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(manifest, f)
            os.replace(tmp, self._commit_path(txn_id))  # durability point
            _promote(d, txn_id, replaces=old_files)
            return {
                "rows_in": int(n_new),
                "rows_replaced": int(n_replaced),
                "partitions": parts,
            }
        finally:
            lock.release()

    def expire_partitions(self, dest: TableDest, before: str) -> dict:
        """Retention: drop every partition strictly older than
        ``before`` (a value in the table's own partition format —
        ``yyyy-MM-dd`` for day tables etc.; the formats sort lexically,
        so the comparison is a string compare).

        At 100 TB this is the lifecycle primitive that keeps a
        time-partitioned warehouse bounded: whole-directory deletes,
        never a rewrite — no data is read, no Spark job runs. Holds the
        table lock so a concurrent compact cannot resurrect an expired
        partition from its staged copy (staged dirs are recovered
        BEFORE the cutoff scan); deleting a partition directory is
        idempotent, so a crash mid-delete just re-runs.
        """
        if dest.partition == TimeUnit.NONE.value:
            raise ModelError("expire_partitions needs a time-partitioned table")
        fmt_len = {"hour": 13, "day": 10, "month": 7, "year": 4}[dest.partition]
        if len(before) != fmt_len or not before.replace("-", "").isdigit():
            raise ModelError(
                f"cutoff {before!r} does not match the table's "
                f"{dest.partition!r} partition format"
            )
        if self._read_schema(dest) is None:
            raise ModelError(f"no such table: {dest.dataset}.{dest.table}")
        d = self._dir(dest)
        lock = self._lock(dest)
        try:
            self._recover(dest)
            removed_parts: list[str] = []
            removed_files = 0
            for name in sorted(os.listdir(d)):
                if not name.startswith(f"{PARTITION_COL}="):
                    continue
                val = name.split("=", 1)[1]
                if val < before:
                    pdir = os.path.join(d, name)
                    # retire file-by-file (not rmtree) so a named
                    # snapshot can still read the expired partition
                    # until vacuum reclaims it
                    for root, _dirs, fs in os.walk(pdir):
                        for fn in fs:
                            rel = os.path.relpath(os.path.join(root, fn), d)
                            if not fn.startswith(("_", ".")):
                                _retire(d, rel)
                                removed_files += 1
                    shutil.rmtree(pdir, ignore_errors=True)
                    removed_parts.append(val)
            return {
                "partitions_removed": removed_parts,
                "files_removed": removed_files,
            }
        finally:
            lock.release()

    def table_stats(self, dest: TableDest, with_rows: bool = False) -> dict:
        """Operational metadata for a destination: file/byte counts,
        partition list, schema width — pure listing, no Spark job
        unless ``with_rows`` (which runs one count). The health check
        an operator runs before/after compact, expire, or merge.
        """
        if self._read_schema(dest) is None:
            raise ModelError(f"no such table: {dest.dataset}.{dest.table}")
        self._recover(dest)
        d = self._dir(dest)
        files = self._data_files(dest)
        partitions = sorted(
            {
                f.split(os.sep)[0].split("=", 1)[1]
                for f in files
                if f.startswith(f"{PARTITION_COL}=")
            }
        )
        schema = self._read_schema(dest)
        stats = {
            "dataset": dest.dataset,
            "table": dest.table,
            "files": len(files),
            "bytes": int(sum(os.path.getsize(os.path.join(d, f)) for f in files)),
            "partitions": partitions,
            "data_fields": len(schema["data"].dataType.fields),
        }
        if with_rows:
            stats["rows"] = int(self.read_table(dest).count())
        return stats

    # -- named snapshots (pinned corpus versions) ----------------------
    def _snap_path(self, dest: TableDest, name: str) -> str:
        if not name or "/" in name or name.startswith((".", "_")):
            raise ModelError(f"bad snapshot name: {name!r}")
        return os.path.join(self._dir(dest), SNAPSHOTS_DIR, f"{name}.json")

    def snapshot(self, dest: TableDest, name: str) -> dict:
        """Pin the destination's CURRENT file set (and schema) under a
        name — the "this exact corpus trained run X" primitive. A
        snapshot is one atomically-written JSON manifest: no data is
        copied, and later appends/compactions/retention never change
        what :meth:`read_snapshot` returns, because maintenance
        retires replaced files into a hidden mirror instead of
        deleting them; only :meth:`vacuum` (which honors snapshot
        references) reclaims bytes. The lock makes the listed set a
        consistent point — never half of a concurrent compact. The
        schema read and the name-existence check happen INSIDE the
        lock (the schema must match the locked file listing), and the
        manifest publishes via hard-link — an exclusive create — so
        two concurrent creators of the same name can never silently
        overwrite each other (ADVICE r6): exactly one wins, the other
        raises."""
        self._recover(dest)
        path = self._snap_path(dest, name)
        lock = self._lock(dest)
        try:
            schema = self._read_schema(dest)
            if schema is None:
                raise ModelError(f"no such table: {dest.dataset}.{dest.table}")
            if os.path.exists(path):
                raise ModelError(f"snapshot already exists: {name}")
            files = self._data_files(dest)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = f"{path}.tmp.{os.getpid()}"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(
                    {"name": name, "files": files, "schema": schema.jsonValue()},
                    f,
                )
            try:
                os.link(tmp, path)  # atomic exclusive publish
            except FileExistsError:
                raise ModelError(f"snapshot already exists: {name}") from None
            finally:
                os.unlink(tmp)
            return {"name": name, "files": len(files)}
        finally:
            lock.release()

    def _load_snapshot(self, dest: TableDest, name: str) -> dict:
        path = self._snap_path(dest, name)
        if not os.path.exists(path):
            raise ModelError(f"no such snapshot: {name}")
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    def read_snapshot(self, dest: TableDest, name: str) -> DataFrame:
        """Read exactly the rows the table held when ``name`` was
        taken, with the schema AS OF the snapshot (later evolution
        does not widen a pinned read). Each pinned file resolves to
        its live path or its retired mirror; a file in neither was
        vacuumed away and the read fails loudly rather than silently
        shrinking a training corpus."""
        snap = self._load_snapshot(dest, name)
        d = self._dir(dest)
        paths = []
        for rel in snap["files"]:
            live = os.path.join(d, rel)
            retired = os.path.join(d, RETIRED_DIR, rel)
            if os.path.exists(live):
                paths.append(live)
            elif os.path.exists(retired):
                paths.append(retired)
            else:
                raise ModelError(
                    f"snapshot {name!r} references vacuumed file: {rel}"
                )
        schema = T.StructType.fromJson(snap["schema"])
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def list_snapshots(self, dest: TableDest) -> list[dict]:
        sdir = os.path.join(self._dir(dest), SNAPSHOTS_DIR)
        if not os.path.isdir(sdir):
            return []
        out = []
        for fn in sorted(os.listdir(sdir)):
            if not fn.endswith(".json"):
                continue
            with open(os.path.join(sdir, fn), encoding="utf-8") as f:
                snap = json.load(f)
            out.append({"name": snap["name"], "files": len(snap["files"])})
        return out

    def drop_snapshot(self, dest: TableDest, name: str) -> None:
        path = self._snap_path(dest, name)
        if not os.path.exists(path):
            raise ModelError(f"no such snapshot: {name}")
        os.remove(path)

    def vacuum(self, dest: TableDest) -> dict:
        """Reclaim retired files no snapshot references — the Delta
        VACUUM analogue (reference-counted by manifest, not by age).
        Pure listing + unlink under the table lock; never touches the
        live layout, so it is safe at any time and O(retired files)."""
        if self._read_schema(dest) is None:
            raise ModelError(f"no such table: {dest.dataset}.{dest.table}")
        d = self._dir(dest)
        rdir = os.path.join(d, RETIRED_DIR)
        lock = self._lock(dest)
        try:
            referenced: set[str] = set()
            for snap in self.list_snapshots(dest):
                referenced.update(
                    self._load_snapshot(dest, snap["name"])["files"]
                )
            removed = 0
            kept = 0
            if os.path.isdir(rdir):
                for root, _dirs, files in os.walk(rdir, topdown=False):
                    for fn in files:
                        rel = os.path.relpath(os.path.join(root, fn), rdir)
                        if rel in referenced:
                            kept += 1
                        else:
                            os.remove(os.path.join(root, fn))
                            removed += 1
                    if root != rdir and not os.listdir(root):
                        os.rmdir(root)
            return {"files_removed": removed, "files_kept": kept}
        finally:
            lock.release()

    def read_table(
        self, dest: TableDest, partitions: list[str] | None = None
    ) -> DataFrame:
        """Read a destination; ``partitions`` restricts the read to
        those partition VALUES by listing only their directories —
        pruning at the file-listing level (an object-store LIST per
        selected partition, never a walk of the whole table), which is
        the read-side analogue of partition-scoped compact/merge."""
        self._recover(dest)
        schema = self._read_schema(dest)
        if schema is None:
            raise ModelError(f"no such table: {dest.dataset}.{dest.table}")
        if partitions is not None and dest.partition == TimeUnit.NONE.value:
            raise ModelError("partitions= needs a time-partitioned table")
        if dest.partition != TimeUnit.NONE.value:
            schema = T.StructType(
                list(schema.fields) + [T.StructField(PARTITION_COL, T.StringType(), True)]
            )
        d = self._dir(dest)
        if partitions is None:
            df = self.spark.read.schema(schema).parquet(d)
        else:
            paths = [
                os.path.join(d, f"{PARTITION_COL}={p}")
                for p in partitions
                if os.path.isdir(os.path.join(d, f"{PARTITION_COL}={p}"))
            ]
            if not paths:
                return self.spark.createDataFrame([], schema).drop(PARTITION_COL)
            df = (
                self.spark.read.schema(schema)
                .option("basePath", d)
                .parquet(*paths)
            )
        return df.drop(PARTITION_COL)

    def list_tables(self) -> list[TableDest]:
        out = []
        for ds in sorted(os.listdir(self.warehouse)):
            dsp = os.path.join(self.warehouse, ds)
            if not os.path.isdir(dsp) or ds == COMMITS_DIR:
                continue
            for tb in sorted(os.listdir(dsp)):
                if os.path.exists(os.path.join(dsp, tb, SCHEMA_FILE)):
                    out.append(TableDest(ds, tb))
        return out


def _write_slice(d: str, dest: TableDest, df: DataFrame) -> int:
    """Append one destination slice under ``d`` (direct table dir or a
    transaction's staged dir), honoring the time-unit partitioning —
    the single write path shared by append() and TableTransaction.

    Spark writes the slice into its own hidden ``_staged-append-*``
    dir under ``d``, and :func:`_promote` moves the files in. Writing
    into ``d`` directly would share ``d/_temporary`` with every other
    writer of ``d``: concurrent appends to one table then lose or
    duplicate each other's files when the first job to commit deletes
    the common ``_temporary`` dir. The row count comes from the write
    job; a slice of zero rows (or a failed write) leaves ``d`` as it
    was."""
    slice_id = f"append-{uuid.uuid4().hex}"
    staged = os.path.join(d, f"{STAGED_PREFIX}{slice_id}")
    partitioned = dest.partition != TimeUnit.NONE.value
    if partitioned:
        df = df.withColumn(PARTITION_COL, partition_value(F.col("timestamp"), dest.partition))

    def write(w: DataFrame) -> None:
        writer = w.write.mode("overwrite")
        (writer.partitionBy(PARTITION_COL) if partitioned else writer).parquet(staged)

    try:
        n = write_counted(df, write)
        if n:
            _promote(d, slice_id)
        return n
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def _retire(table_dir: str, rel: str) -> None:
    """Atomically move a live data file into the ``_swarm_retired/``
    mirror (same relative path, partition subdirs preserved). No-op if
    the file is already retired or vacuumed — idempotent under crash
    recovery and concurrent promoters."""
    src = os.path.join(table_dir, rel)
    if not os.path.exists(src):
        return
    dst = os.path.join(table_dir, RETIRED_DIR, rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.replace(src, dst)
    except FileNotFoundError:
        pass


def _promote(table_dir: str, txn_id: str, replaces: list[str] | None = None) -> None:
    """Move a committed staged dir's data files into the table layout.

    Idempotent and restartable: every part file has a globally unique
    Spark-generated name, each ``os.replace`` is atomic, and a re-run
    only moves whatever is left. Partition subdirs (``__swarm_part=…``)
    are preserved; marker files (``_SUCCESS``) are dropped.

    ``replaces`` (compaction/merge manifests) lists old files to drop
    from the live layout — processed before the moves so a replaced
    row can never be visible twice. Dropped files are RETIRED (atomic
    rename into the hidden ``_swarm_retired/`` mirror), not deleted:
    named snapshots may still reference them, and :meth:`TableSink.
    vacuum` reclaims whatever no snapshot pins (the Delta/Iceberg
    remove-then-VACUUM lifecycle). Retiring an already-retired file is
    a no-op, keeping recovery re-runnable from any crash point."""
    staged = os.path.join(table_dir, f"{STAGED_PREFIX}{txn_id}")
    if not os.path.isdir(staged):
        return
    for rel in replaces or ():
        _retire(table_dir, rel)
    for root, _dirs, files in os.walk(staged):
        rel = os.path.relpath(root, staged)
        tgt = table_dir if rel == "." else os.path.join(table_dir, rel)
        os.makedirs(tgt, exist_ok=True)
        for fn in files:
            if fn.startswith(("_", ".")):
                continue
            try:
                os.replace(os.path.join(root, fn), os.path.join(tgt, fn))
            except FileNotFoundError:
                # a concurrent promoter (eager commit vs a reader's
                # promote-on-read) already moved this file — the move
                # set is idempotent either way
                continue
    shutil.rmtree(staged, ignore_errors=True)


class TableTransaction:
    """All-or-nothing multi-destination batch commit.

    Write protocol (G1 atomic mode):

    1. ``stage(dest, df)`` writes each destination slice under the
       table's hidden ``_staged-{txn}/`` subdir — underscore-prefixed,
       so invisible to every parquet listing until promoted.
    2. ``commit()`` publishes ONE manifest file atomically
       (tmp + ``os.replace`` into ``{warehouse}/_swarm_commits/``);
       this rename is the transaction's durability point.
    3. Promotion moves staged files into the table layout — run
       eagerly after commit and lazily by ``read_table`` (promote-on-
       read), so a crash anywhere leaves either zero visible rows
       (no manifest) or, eventually, all of them (manifest present).

    ``abort()`` (or simply crashing before commit) removes/orphans the
    hidden staged dirs; readers never see them.
    """

    def __init__(self, sink: TableSink, txn_id: str | None = None):
        self.sink = sink
        self.txn_id = txn_id or uuid.uuid4().hex
        self._staged: list[TableDest] = []
        self.committed = False

    def _staged_dir(self, dest: TableDest) -> str:
        return os.path.join(self.sink._dir(dest), f"{STAGED_PREFIX}{self.txn_id}")

    def stage(self, dest: TableDest, df: DataFrame) -> int:
        if self.committed:
            raise ModelError("transaction already committed")
        n = _write_slice(self._staged_dir(dest), dest, df)
        if n:
            self._staged.append(dest)
        return n

    def commit(self) -> None:
        if self.committed:
            return
        manifest = {
            "txn": self.txn_id,
            "tables": [
                {"dataset": t.dataset, "table": t.table, "partition": t.partition}
                for t in self._staged
            ],
        }
        cdir = os.path.join(self.sink.warehouse, COMMITS_DIR)
        os.makedirs(cdir, exist_ok=True)
        tmp = os.path.join(cdir, f".{self.txn_id}.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        os.replace(tmp, self.sink._commit_path(self.txn_id))  # THE atomic publish
        self.committed = True
        for dest in self._staged:
            _promote(self.sink._dir(dest), self.txn_id)

    def abort(self) -> None:
        if self.committed:
            raise ModelError("cannot abort a committed transaction")
        for dest in self._staged:
            shutil.rmtree(self._staged_dir(dest), ignore_errors=True)
        self._staged = []
