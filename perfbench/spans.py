"""Span tracing around the calls into each layer, plus a Spark
status-store digest.

Spans are recorded only while a :class:`Tracer` is installed. It wraps
the module and class attributes that callers actually look up (for
example ``swarm_spark.pipeline.ingest.read_objects``, which the pipeline
imported by name), keeps every span in memory, and restores the
originals on :meth:`Tracer.uninstall`. While a span is open on a thread,
the Spark job description of that thread names the span path, so each
Spark job can be charged to the innermost layer that launched it.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    rid: str
    parent: int | None
    start: float
    end: float = 0.0
    path: str = ""
    extra: dict | None = None


def _leaves(st) -> int:
    from pyspark.sql import types as T

    n = 0
    for f in st.fields:
        n += _leaves(f.dataType) if isinstance(f.dataType, T.StructType) else 1
    return n


def _bytes_in(paths) -> int:
    total = 0
    for p in paths:
        try:
            total += os.path.getsize(p)
        except OSError:
            pass
    return total


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, rid: str | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(
            sid=next(self._ids),
            name=name,
            rid=rid or (parent.rid if parent else ""),
            parent=parent.sid if parent else None,
            start=time.perf_counter(),
            path=f"{parent.path}/{name}" if parent else name,
        )
        stack.append(sp)
        self.sc.setLocalProperty("spark.job.description", sp.path)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        self.sc.setLocalProperty(
            "spark.job.description", stack[-1].path if stack else None
        )
        with self._lock:
            self.spans.append(sp)

    def record(self, name: str, rid: str, start: float, end: float) -> None:
        """Add a span the caller timed itself (no children, no jobs)."""
        with self._lock:
            self.spans.append(Span(next(self._ids), name, rid, None, start, end, name))

    # ------------------------------------------------------- installing
    def wrap(self, owner, attr: str, name: str, rid=None, extra=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span.
        ``rid(args)`` may name the request; ``extra(args, result)`` may
        attach counts to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sp = tracer._open(name, rid(args) if rid else None)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer._close(sp)
            if extra is not None:
                sp.extra = extra(args, out)
            return out

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> "Tracer":
        from swarm_spark.pipeline import ingest
        from swarm_spark.rules.event import EventRuleSet
        from swarm_spark.rules.schema_rule import SchemaRule
        from swarm_spark.sinks import table
        from swarm_spark.streaming import serve, state

        def merge_extra(args, out):
            return {"fields_added": _leaves(out) - _leaves(args[0])}

        def msg_id(args):
            return str((args[1].get("message") or {}).get("message_id", ""))

        self.wrap(ingest, "read_objects", "sources.read",
                  extra=lambda a, _o: {"bytes_in": _bytes_in(a[1])})
        self.wrap(EventRuleSet, "match", "rules.match")
        self.wrap(SchemaRule, "apply", "rules.apply")
        self.wrap(ingest, "validate_output", "rules.validate")
        self.wrap(ingest, "strip_struct_column", "schema.strip")
        self.wrap(table, "merge_schemas", "schema.merge", extra=merge_extra)
        self.wrap(table.TableSink, "ensure_table", "sinks.ensure_table")
        self.wrap(table._TableLock, "acquire", "sinks.lock_wait")
        self.wrap(table.TableSink, "append", "sinks.append")
        self.wrap(table.TableSink, "read_table", "sinks.read_table")
        self.wrap(ingest.IngestPipeline, "load_objects", "pipeline.load",
                  extra=lambda _a, o: {"dests": len(o.rows_by_dest)})
        self.wrap(serve.NotificationProcessor, "handle_pubsub", "streaming.handle",
                  rid=msg_id)
        self.wrap(state.StateStore, "get_or_create", "streaming.state_acquire")
        self.wrap(state.StateStore, "update", "streaming.state_update")
        return self

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # --------------------------------------------------------- summaries
    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.by_name(name))

    def self_time(self, name: str) -> float:
        """Sum over spans named ``name`` of their duration minus the part
        of it that their child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = 0.0
        for s in self.by_name(name):
            covered, cur_a, cur_b = 0.0, None, None
            for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
                if cur_b is None or c.start > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = c.start, c.end
                else:
                    cur_b = max(cur_b, c.end)
            if cur_b is not None:
                covered += cur_b - cur_a
            out += (s.end - s.start) - covered
        return out

    def extra_sum(self, name: str, key: str) -> float:
        return sum((s.extra or {}).get(key, 0) for s in self.by_name(name))

    def max_inflight(self, name: str) -> int:
        edges = sorted(
            [(s.start, 1) for s in self.by_name(name)]
            + [(s.end, -1) for s in self.by_name(name)],
            key=lambda e: (e[0], e[1]),
        )
        cur = best = 0
        for _t, d in edges:
            cur += d
            best = max(best, cur)
        return best

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.sid, "name": s.name, "rid": s.rid, "parent": s.parent,
                "start": round(s.start, 6), "end": round(s.end, 6),
                **({"extra": s.extra} if s.extra else {}),
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


def _jobs_newest_first(sc):
    """The status store lists jobs newest first."""
    return sc._jsc.sc().statusStore().jobsList(None)


def last_job_id(sc) -> int:
    jobs = _jobs_newest_first(sc)
    return jobs.apply(0).jobId() if jobs.size() else -1


def spark_digest(sc, after_job: int, wall_s: float, cores: int) -> dict:
    """Jobs, stages and tasks launched after job ``after_job``, read from
    the live status store (which is kept with the UI disabled). Jobs are
    also counted by the span path in their description."""
    store = sc._jsc.sc().statusStore()
    jobs, stage_ids, by_path = 0, set(), {}
    it = _jobs_newest_first(sc).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() <= after_job:
            break
        jobs += 1
        desc = j.description()
        path = desc.get() if desc.isDefined() else ""
        by_path[path] = by_path.get(path, 0) + 1
        sit = j.stageIds().iterator()
        while sit.hasNext():
            stage_ids.add(sit.next())
    stages = tasks = 0
    run_ms = gc_ms = shuffle = spill = 0
    for sid in stage_ids:
        s = store.lastStageAttempt(sid)
        if s.status().toString() != "COMPLETE":
            continue  # skipped: its output was reused
        stages += 1
        tasks += s.numCompleteTasks()
        run_ms += s.executorRunTime()
        gc_ms += s.jvmGcTime()
        shuffle += s.shuffleReadBytes() + s.shuffleWriteBytes()
        spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return {
        "jobs": jobs,
        "stages": stages,
        "tasks": tasks,
        "task_s": run_ms / 1000.0,
        "busy_ratio": (run_ms / 1000.0) / (wall_s * cores) if wall_s > 0 else 0.0,
        "shuffle_bytes": shuffle,
        "spill_bytes": spill,
        "gc_s": gc_ms / 1000.0,
        "jobs_by_path": by_path,
    }


def jobs_in(by_path: dict, name: str, innermost: bool = True) -> int:
    """Jobs whose span path ends in ``name`` (innermost) or passes
    through it."""
    return sum(
        n for p, n in by_path.items()
        if (p.split("/")[-1] == name if innermost else name in p.split("/"))
    )
